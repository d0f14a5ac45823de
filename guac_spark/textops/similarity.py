"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (all JVM-side: zip_with +
aggregate fold, no Python); the LSH-bucketed variant is the 100 TB path —
random-hyperplane signatures block the corpus so each query probes only its
bucket (and optional neighboring buckets), turning O(n·q) into
O(n/2^bits · q) with recall controlled by the number of probe tables.

Driver side: ann_topk_bruteforce, ann_topk_lsh, ann_topk_ivf (with its own
quantizer) and cosine_near_pairs_lsh first pass their embedding relation
through the one driver gate (cc.driver_edges, cc.DRIVER_EDGE_LIMIT rows).
A relation that fits is searched in process from the gate's one Arrow
collect, with the same output as the Spark plan below it: the same md5
hyperplanes and probe masks (one bucket kernel, _bucket_ids), every dot
product and norm folded over the dimensions in _dot's order (_dot_fold),
6-dp rounding as F.round rounds (_round6), and the same tie-breaks. A
relation past the limit runs the distributed plans unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cc


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(col: str):
    return F.sqrt(
        F.aggregate(
            F.col(col),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def _normed(emb: DataFrame, ident: str, side: str, *extra: str) -> DataFrame:
    """(ident, v<side>, n<side>, *extra): vec_id, embedding and its norm,
    computed once per row so a pair plan pays only the dot product."""
    return emb.select(
        F.col("vec_id").alias(ident),
        F.col("embedding").alias(f"v{side}"),
        _norm("embedding").alias(f"n{side}"),
        *extra,
    )


def staged_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings ∪ scaled copies (vec_id%10==0, ×1.001) — deterministic
    near-duplicates (cosine ≈ 1.0) for the near-dup oracle, since the
    natural corpus is near-orthogonal (max pairwise cosine ≈ 0.51)."""
    base = emb.select("vec_id", "embedding")
    near = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("embedding"),
    )
    return base.unionByName(near)


def cosine_near_pairs(emb: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Exact near-dup pairs (a < b) with cosine >= threshold.

    Brute-force O(n²) — correct baseline for oracle checks; at scale,
    bucket with `hyperplane_buckets` first and run this within buckets.
    Norms are precomputed once per side so the crossed plan only pays the
    dot product.
    """
    return (
        _normed(emb, "a", "a").crossJoin(_normed(emb, "b", "b"))
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", _dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): the k best-scored neighbors
    per query, ties to the smaller neighbor_id so the answer is the same
    under any parallelism."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cos", 6).alias("cos"))
    )


# --- driver side (relations that pass cc.driver_edges' gate) ----------------

def _on_driver(emb: DataFrame, cols: list[str],
               solve: Callable[[pd.DataFrame], pd.DataFrame],
               schema: str) -> DataFrame | None:
    """`solve` run on the driver over `emb`'s `cols` when they pass the
    one driver gate (cc.driver_edges), its pandas result returned as a
    DataFrame of `schema`; None past the gate. An empty relation gives an
    empty result without calling `solve`."""
    pdf = cc.driver_edges(emb.select(*cols))
    if pdf is None:
        return None
    return emb.sparkSession.createDataFrame(
        solve(pdf) if len(pdf) else [], schema
    )


def _id_type(emb: DataFrame) -> str:
    return emb.schema["vec_id"].dataType.simpleString()


def _topk_schema(emb: DataFrame) -> str:
    t = _id_type(emb)
    return f"query_id {t}, neighbor_id {t}, rank int NOT NULL, cos double"


def _vectors(pdf: pd.DataFrame) -> np.ndarray:
    """The `embedding` column of a pandas batch as an [n, dim] float64
    matrix (float32 -> float64 is exact, as Spark's cast is)."""
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def _dot_fold(xs, ys):
    """Σ x·y over paired per-dimension arrays, summed left to right from
    0.0 — the order of _dot's and _norm's aggregate fold, so every dot
    product and norm equals the Spark side's double bit for bit."""
    acc = 0.0
    for x, y in zip(xs, ys):
        acc = acc + x * y
    return acc


def _norms(vt: np.ndarray) -> np.ndarray:
    """_norm per column of a dim-first [dim, n] matrix."""
    return np.sqrt(_dot_fold(vt, vt))


def _round6(x: np.ndarray) -> np.ndarray:
    """F.round(x, 6): HALF_UP on each double's shortest decimal repr (what
    BigDecimal.valueOf sees), not np.round's half-even on x·1e6. Only a
    value whose x·1e6 lies within float error of a half goes through
    Decimal; `+ 0.0` turns a -0.0 into BigDecimal's 0."""
    x = np.asarray(x, dtype=np.float64)
    y = np.abs(x) * 1e6
    out = np.copysign(np.floor(y + 0.5), x) / 1e6 + 0.0
    for i in np.flatnonzero(
        np.abs(y - np.floor(y) - 0.5) <= 1e-9 * np.maximum(y, 1.0)
    ):
        out.flat[i] = float(Decimal(repr(float(x.flat[i]))).quantize(
            Decimal("1e-6"), ROUND_HALF_UP)) + 0.0
    return out


def _desc(x: np.ndarray) -> np.ndarray:
    """Ascending sort key for `x` descending, NaN first (Spark orders NaN
    above every number)."""
    return np.where(np.isnan(x), -np.inf, -x)


def _split(pdf: pd.DataFrame, query_ids: list[int]):
    """(ids, query row indices, corpus row indices)."""
    ids = pdf["vec_id"].to_numpy()
    is_q = np.isin(ids, list(query_ids))
    return ids, np.flatnonzero(is_q), np.flatnonzero(~is_q)


def _local_topk(ids: np.ndarray, mat: np.ndarray, qi: np.ndarray,
                ci: np.ndarray, k: int,
                admit: np.ndarray | None = None) -> pd.DataFrame:
    """_topk on the driver: query rows `qi` scored against corpus rows
    `ci` (only the pairs set in the [len(qi), len(ci)] mask `admit`, all
    when None) with _dot / (nq·nc); per query_id the k best, cos
    descending, ties to the smaller neighbor_id, cos rounded by _round6."""
    vt = mat.T
    n = _norms(vt)
    cos = (_dot_fold(vt[:, qi, None], vt[:, None, ci])
           / (n[qi, None] * n[None, ci]))
    qq, cx = np.nonzero(np.ones(cos.shape, bool) if admit is None else admit)
    qid, nid, cos = ids[qi][qq], ids[ci][cx], cos[qq, cx]
    order = np.lexsort((nid, _desc(cos), qid))
    qid, nid, cos = qid[order], nid[order], cos[order]
    pos = np.arange(len(qid))
    first = np.ones(len(qid), bool)
    first[1:] = qid[1:] != qid[:-1]
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    keep = rank <= k
    return pd.DataFrame({
        "query_id": qid[keep], "neighbor_id": nid[keep],
        "rank": rank[keep].astype(np.int32), "cos": _round6(cos[keep]),
    })


def ann_topk_bruteforce(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    A relation that passes cc.driver_edges' gate is scored on the driver
    (_local_topk over every query × corpus pair). Past it, queries
    broadcast against the corpus — one scan of the corpus total, not one
    per query; rank via window with deterministic tie-break.
    """
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, qi, ci = _split(pdf, query_ids)
        return _local_topk(ids, _vectors(pdf), qi, ci, k)

    local = _on_driver(emb, ["vec_id", "embedding"], solve,
                       _topk_schema(emb))
    if local is not None:
        return local
    q = _normed(emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "q")
    c = _normed(
        emb.filter(~F.col("vec_id").isin(query_ids)), "neighbor_id", "c"
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cos", _dot("vq", "vc") / (F.col("nq") * F.col("nc"))
    )
    return _topk(scored, k)


# --- LSH-bucketed ANN (the scale path) --------------------------------------

def hyperplane_planes(
    n_bits: int = 8, seed: int = 11, dim: int = 64
) -> np.ndarray:
    """Deterministic integer hyperplanes derived from md5 — the same
    construction is renderable as SQL literals, so the DuckDB oracle
    computes byte-identical buckets (NOTES_r1 #4: the md5-integer trick
    proven for simhash, applied to ANN). plane[i][d] in [-1000, 1000]."""
    import hashlib

    vals = np.empty((n_bits, dim), dtype=np.int64)
    for i in range(n_bits):
        for d in range(dim):
            h = hashlib.md5(f"plane:{seed}:{i}:{d}".encode()).digest()
            vals[i, d] = int.from_bytes(h[:8], "big") % 2001 - 1000
    return vals


def hyperplane_buckets(
    emb: DataFrame, n_bits: int = 8, seed: int = 11, dim: int = 64
) -> DataFrame:
    """Random-hyperplane signature per vector: (vec_id, bucket).

    Deterministic planes (md5-derived ints, see hyperplane_planes);
    computed in one Arrow pass. Sign boundaries are robust: |dot| is
    O(1000·sqrt(dim)) against ~1e-9 float error.
    """
    planes = hyperplane_planes(n_bits, seed, dim)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "bucket": _bucket_ids(_vectors(pdf), planes),
            })

    return emb.select("vec_id", "embedding").mapInPandas(
        gen, "vec_id long, bucket long"
    )


def _bucket_ids(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """The bucket kernel of both sides: bit i of a row's bucket is set
    when the row lies on the positive side of plane i."""
    bits = (mat @ planes.T.astype(np.float64)) > 0  # [n, n_bits]
    return (bits @ (1 << np.arange(len(planes)))).astype(np.int64)


def _probe_masks(n_bits: int, hamming: int) -> list[int]:
    """XOR masks reaching every bucket within `hamming` bits of a
    signature, the exact bucket (mask 0) first."""
    return [0] + [
        sum(1 << i for i in c)
        for r in range(1, hamming + 1)
        for c in combinations(range(n_bits), r)
    ]


def _adaptive_n_bits(n_rows: int, target_bucket: int = 2) -> int:
    """Signature width sized to the corpus: ~target_bucket vectors per
    bucket keeps the within-bucket candidate volume ~O(n) at any scale
    (a constant 8 bits = 256 buckets was tuned to a 2k-vector corpus;
    at 22k staged vectors it admitted 9.0M candidate pairs — measured
    r7, ~12s of the query — where 13 bits admit ~0.4M). Clamped to
    [8, 16]: fewer than 8 bits never helps, and past 16 the per-row
    probe fan-out (1 + n_bits masks at hamming 1) outgrows the bucket
    savings for any corpus this operator would see in one partition."""
    import math

    if n_rows <= 0:
        return 8
    return min(16, max(8, int(math.floor(math.log2(
        max(n_rows / float(target_bucket), 1.0))))))


def cosine_near_pairs_lsh(
    emb: DataFrame, threshold: float = 0.99, n_bits: int | None = None,
    probe_hamming: int = 1
) -> DataFrame:
    """Near-dup pairs via hyperplane bucketing — the 100 TB path.

    Candidates = pairs whose signatures agree within `probe_hamming` bits
    (same bucket, plus neighbor-bucket probes for boundary recall); each
    candidate is verified with the exact cosine, so precision is 1.0.
    The all-pairs work is confined to within-bucket joins: O(sum of
    bucket^2) instead of O(n^2). cosine_near_pairs (brute force) is the
    recall ground truth; a true near-dup (cosine ~ 1) is near-colinear,
    so its two vectors share every signature bit except for dots within
    float error of a plane — probe_hamming=1 covers that boundary, and
    the property is independent of n_bits, so the adaptive width below
    cannot cost recall on scalar-copy near-dups (r7: outputs verified
    identical at n_bits 8/12/13/14 on every driver SF).

    n_bits=None (default) sizes the signature to the corpus
    (_adaptive_n_bits).

    Requires unique vec_ids (every driver SF; GUAC ids are unique by
    construction) and raises ValueError otherwise: a duplicated id would
    pair an arbitrary one of its embeddings.

    Driver side (the relation passes cc.driver_edges' gate): the same
    buckets from _bucket_ids, then per probe mask a bucket sort plus
    searchsorted finds every (a, b) whose buckets differ by that mask;
    with unique ids each pair comes from exactly one mask, so no dedup.

    Distributed side: one aggregate of count(*) and count(DISTINCT
    vec_id) checks the ids and sizes the signature — one job, the
    snapshot-summary lookup at cluster scale. Physical shape (r7, guide
    §2.3/§8): candidate (a, b) ID pairs are generated and deduplicated
    from the bucket table alone — the r6 shape ran dropDuplicates on rows
    still carrying BOTH 64-float embeddings plus norms, shuffling ~1
    KB/row of payload to compare 16 bytes of ids — and the embeddings are
    attached to the surviving pairs afterwards (two joins against the
    embedding relation; broadcast at bench scale, a plain id-keyed hash
    join at 100 TB)."""
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        if len(np.unique(ids)) != len(ids):
            raise ValueError("cosine_near_pairs_lsh needs unique vec_ids")
        bits = _adaptive_n_bits(len(ids)) if n_bits is None else n_bits
        mat = _vectors(pdf)
        bucket = _bucket_ids(mat, hyperplane_planes(bits))
        order = np.argsort(bucket, kind="stable")
        sorted_b = bucket[order]
        ls, rs = [], []
        for m in _probe_masks(bits, probe_hamming):
            want = bucket ^ m
            lo = np.searchsorted(sorted_b, want, "left")
            cnt = np.searchsorted(sorted_b, want, "right") - lo
            r = np.repeat(np.arange(len(ids)), cnt)
            l = order[np.arange(cnt.sum())
                      + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]
            keep = ids[l] < ids[r]
            ls.append(l[keep])
            rs.append(r[keep])
        l, r = np.concatenate(ls), np.concatenate(rs)
        vt = mat.T
        n = _norms(vt)
        cos = (_dot_fold((x[l] for x in vt), (x[r] for x in vt))
               / (n[l] * n[r]))
        hit = cos >= threshold
        return pd.DataFrame({"a": ids[l[hit]], "b": ids[r[hit]],
                             "cos": _round6(cos[hit])})

    t = _id_type(emb)
    local = _on_driver(emb, ["vec_id", "embedding"], solve,
                       f"a {t}, b {t}, cos double")
    if local is not None:
        return local
    n_rows, n_ids = emb.agg(
        F.count(F.lit(1)), F.count_distinct("vec_id")
    ).first()
    if n_rows != n_ids:
        raise ValueError("cosine_near_pairs_lsh needs unique vec_ids")
    if n_bits is None:
        n_bits = _adaptive_n_bits(n_rows)
    b = hyperplane_buckets(emb, n_bits=n_bits)
    masks = _probe_masks(n_bits, probe_hamming)
    l_ids = b.select(F.col("vec_id").alias("a"), "bucket")
    r_ids = b.select(
        F.col("vec_id").alias("b"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cand = (
        l_ids.join(r_ids, on="bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])  # multi-probe overlap — ids only
    )
    return (
        cand.join(_normed(emb, "a", "a"), on="a")
        .join(_normed(emb, "b", "b"), on="b")
        .withColumn("cos", _dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def ann_topk_lsh(
    emb: DataFrame, query_ids: list[int], k: int = 5, n_bits: int = 8,
    multiprobe: int = 1
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's probe buckets.

    Multi-probe: probe every bucket within Hamming distance `multiprobe`
    of the query's signature — sum(C(n_bits, r) for r <= multiprobe)
    probes per query (9 at n_bits=8/multiprobe=1, 37 at multiprobe=2), vs
    scanning the full corpus for brute force. Recall increases
    monotonically with `multiprobe`; ann_topk_bruteforce is the
    correctness baseline. A relation that passes cc.driver_edges' gate is
    searched on the driver: _bucket_ids buckets, the probe masks as a
    query × corpus pair mask, then _local_topk.
    """
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, qi, ci = _split(pdf, query_ids)
        mat = _vectors(pdf)
        bucket = _bucket_ids(mat, hyperplane_planes(n_bits))
        admit = np.isin(bucket[qi, None] ^ bucket[None, ci],
                        _probe_masks(n_bits, multiprobe))
        return _local_topk(ids, mat, qi, ci, k, admit)

    local = _on_driver(emb, ["vec_id", "embedding"], solve,
                       _topk_schema(emb))
    if local is not None:
        return local
    b = hyperplane_buckets(emb, n_bits=n_bits)
    with_b = emb.join(b, on="vec_id")
    q0 = _normed(
        with_b.filter(F.col("vec_id").isin(query_ids)), "query_id", "q",
        "bucket",
    )
    probes = F.array(*[
        F.col("bucket").bitwiseXOR(F.lit(m))
        for m in _probe_masks(n_bits, multiprobe)
    ])
    q = q0.select("query_id", "vq", "nq", F.explode(probes).alias("bucket"))
    c = _normed(
        with_b.filter(~F.col("vec_id").isin(query_ids)), "neighbor_id", "c",
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .withColumn("cos", _dot("vq", "vc") / (F.col("nq") * F.col("nc")))
        .dropDuplicates(["query_id", "neighbor_id"])  # multi-probe overlap
    )
    return _topk(scored, k)


# --- IVF ANN (inverted-file index: coarse quantizer + probed lists) ---------

def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse quantizer: one centroid vector per inverted list.

    (list_id int, cvec array<double>) — per-label mean, rounded to 6 dp
    BEFORE any downstream use so assignment and probing run on exactly
    the same quantizer in every engine (the oracle mirrors the rounding;
    IVF centroids are approximate by design, so quantizing the quantizer
    loses nothing). The quantizer is pluggable: k-means would slot in
    here — each Lloyd step is one more groupBy pass over this same
    shape — but a deterministic closed-form quantizer keeps the operator
    oracle-checkable end-to-end.

    Relational build (posexplode + groupBy): one pass, fully JVM, scales
    to any corpus; the output is nlist rows — driver/broadcast-sized by
    construction (FAISS holds IVF centroids in RAM the same way).
    """
    return _mean_vectors(emb, "label").select(
        F.col("label").cast("int").alias("list_id"), "cvec"
    )


def _dim_means(df: DataFrame, key: str, out: str) -> DataFrame:
    """(key, dim, out): the per-`key` mean of each `embedding` dimension,
    rounded to 6 dp — posexplode + groupBy, fully JVM-side."""
    return (
        df.select(key, F.posexplode("embedding").alias("dim", "x"))
        .groupBy(key, "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias(out))
    )


def _mean_vectors(df: DataFrame, key: str) -> DataFrame:
    """(key, cvec array<double>): _dim_means reassembled in dim order."""
    return (
        _dim_means(df, key, "cv")
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )


def _cos_cols(v: str, cv: str):
    return _dot(v, cv) / (_norm(v) * _norm(cv))


def ivf_centroids_kmeans(emb: DataFrame, iters: int = 1) -> DataFrame:
    """Lloyd-refined coarse quantizer: per-label means as deterministic
    init, then `iters` k-means steps (assign → re-mean), each step's
    centroids rounded to 6 dp so both engines iterate on the identical
    quantizer (same contract as ivf_centroids; the oracle mirrors the
    full chain). Lists that lose every member simply drop out — probing
    and assignment only ever reference surviving centroids.

    Each Lloyd step is two passes over the corpus, both already the
    scale shapes used elsewhere: assignment = broadcast × algebraic max
    (ivf_assign — no corpus window), re-mean = posexplode + groupBy
    partial aggregation. iters stays small by design (IVF coarse
    quantizers converge in a handful of steps; FAISS defaults to 10 on
    a SAMPLE — at 100 TB the training pass would run on a sampled
    fraction, which slots in here as a .sample() before the loop).
    """
    cent = ivf_centroids(emb)
    for _ in range(iters):
        a = ivf_assign(emb, cent)
        cent = _mean_vectors(emb.join(a, on="vec_id"), "list_id")
    return cent


def ivf_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Inverted-list assignment: (vec_id, list_id) — nearest centroid by
    cosine, ties to the smallest list_id.

    Shape for 100 TB: corpus × broadcast(nlist centroids) scores every
    vector against every centroid with zero shuffle, and the argmax is a
    plain algebraic max over struct(cos, -list_id) — partial-aggregated
    map-side, so the only exchange carries one row per vector. No window
    (a per-vec_id window would sort-shuffle nlist× the corpus). At scale
    the assigned table IS the inverted file — write it partitioned or
    bucketed by list_id and each probe reads only its lists.
    """
    # norms precomputed ONCE per side (r7): _cos_cols re-evaluated
    # _norm(v) and _norm(cvec) for every (vector, centroid) pair — at
    # 20k vectors x nlist centroids that folded each 64-dim array 3x per
    # pair; the quotient nv*ncv keeps the original operand order so cos
    # is bit-identical (same doubles, same argmax, oracle unchanged)
    e = emb.select(
        F.col("vec_id"),
        F.col("embedding").alias("v"),
        _norm("embedding").alias("nv"),
    )
    c = cent.select("list_id", "cvec", _norm("cvec").alias("ncv"))
    scored = (
        e.join(F.broadcast(c))
        .select(
            "vec_id",
            (_dot("v", "cvec") / (F.col("nv") * F.col("ncv"))).alias("cos"),
            F.col("list_id"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("list_id")).alias("neg")))
        .alias("m")
    )
    return best.select(
        "vec_id", (-F.col("m.neg")).cast("int").alias("list_id")
    )


def ann_topk_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: (query_id, neighbor_id, rank, cos).

    Classic inverted-file search: the corpus is assigned to nlist
    disjoint lists by nearest centroid (ivf_assign); each query probes
    only its `nprobe` nearest lists and runs the exact cosine inside
    them. Cost per query drops from O(n) to O(n·nprobe/nlist) expected;
    recall rises monotonically with nprobe, and nprobe = nlist
    reproduces ann_topk_bruteforce exactly (pytest-pinned).
    ann_topk_lsh is the hash-blocked alternative — IVF trades its
    data-dependent quantizer (better list balance on clustered corpora)
    for the training pass.

    Lists are disjoint (one list per vector), so probe hits need no
    dedup — unlike multi-probe LSH.

    `centroids` plugs in an alternative coarse quantizer (e.g.
    ivf_centroids_kmeans) — assignment and probing always use the SAME
    centroid set, whatever produced it. `assigned` plugs in a
    MATERIALIZED inverted file (vec_id, list_id) built from those same
    centroids: at scale the index is written once (bucketed by list_id)
    and reused across every query batch instead of re-assigning the
    corpus per search — scripts/ann_scale_evidence.py measures exactly
    that split (build once, probe per nprobe).

    With neither given, a relation that passes cc.driver_edges' gate is
    searched on the driver: per-label means rounded by _round6, cosine
    argmax assignment (ties to the smallest list_id), the top-`nprobe`
    lists per query (ties to the smaller list_id), then _local_topk over
    the probed lists.
    """
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, qi, ci = _split(pdf, query_ids)
        mat = _vectors(pdf)
        # lists in ascending list_id order, so the first best is the
        # smallest list_id
        lists, row_list = np.unique(pdf["label"].to_numpy(),
                                    return_inverse=True)
        sums = np.zeros((len(lists), mat.shape[1]))
        np.add.at(sums, row_list, mat)
        ct = _round6(sums / np.bincount(row_list)[:, None]).T
        vt = mat.T
        ccos = (_dot_fold(vt[:, :, None], ct[:, None, :])
                / (_norms(vt)[:, None] * _norms(ct)[None, :]))
        assign = np.argmax(ccos, axis=1)
        probes = np.argsort(_desc(ccos[qi]), axis=1, kind="stable")
        probed = np.zeros((len(qi), len(lists)), bool)
        np.put_along_axis(probed, probes[:, :nprobe], True, axis=1)
        return _local_topk(ids, mat, qi, ci, k, probed[:, assign[ci]])

    if centroids is None and assigned is None:
        local = _on_driver(emb, ["vec_id", "embedding", "label"], solve,
                           _topk_schema(emb))
        if local is not None:
            return local
    cent = ivf_centroids(emb) if centroids is None else centroids
    if assigned is None:
        assigned = ivf_assign(emb, cent)
    q0 = _normed(emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "q")
    # probe selection: queries × broadcast centroids, top-nprobe lists.
    # The window is per-QUERY over nlist rows — query-set sized, never
    # corpus sized.
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("list_id")
    )
    probes = (
        q0.join(F.broadcast(cent))
        .withColumn("ccos", _cos_cols("vq", "cvec"))
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "vq", "nq", "list_id")
    )
    c = _normed(
        emb.filter(~F.col("vec_id").isin(query_ids)).join(
            assigned, on="vec_id"
        ),
        "neighbor_id", "c", "list_id",
    )
    scored = c.join(F.broadcast(probes), on="list_id").withColumn(
        "cos", _dot("vq", "vc") / (F.col("nq") * F.col("nc"))
    )
    return _topk(scored, k)


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, dim, centroid): per-cluster mean vector, relationally —
    posexplode + groupBy, fully JVM-side, scales to any corpus size."""
    return _dim_means(emb, "label", "centroid")
