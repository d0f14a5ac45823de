"""Training-data operators: dedup recall, simhash, ANN recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guac_spark.textops import dedup, similarity
from tests.conftest import SF_SMALL, group_jobs, job_group


def test_minhash_equals_relational(spark, gate_sides):
    docs = dedup.staged_documents(dedup.load_documents(spark, SF_SMALL))
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs_relational(docs, 0.7, n=2).collect()
    }
    for side in gate_sides:
        lsh = {
            (r["a"], r["b"])
            for r in dedup.minhash_pairs(docs, 0.7).collect()
        }
        assert lsh == exact, side
    # the staged near-copies (id+10000) must all be found
    staged = {r["doc_id"] for r in docs.filter("doc_id >= 20000").collect()}
    near = {a for a, b in exact if b >= 10000 and b < 20000} | {
        b - 10000 for a, b in exact if 10000 <= b < 20000
    }
    assert len(near) > 0


def test_vectorized_minhash_matches_scalar_signature(spark, gate_sides):
    import itertools

    import numpy as np

    from guac_spark.textops import minhash as mh

    a, b = mh.hash_family(64)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "one",
        "",
        "repeat repeat repeat token",
        "a b c d e f g h i j k l",
    ]
    # scalar contract: per-doc signature over the shingle SET
    want = np.stack([
        mh.signature(mh.word_bigrams(t), a, b, mh.shingle_hash)
        for t in texts
    ])
    # batch kernel gets the JVM-shaped multiset lists (duplicates kept)
    def bigrams_list(t):
        import re as _re

        w = _re.findall(r"[a-z]+", t)
        if len(w) < 2:
            return w
        return [w[i] + " " + w[i + 1] for i in range(len(w) - 1)]

    got = mh.signatures_batch(
        [bigrams_list(t) for t in texts], a, b, mh.shingle_hash
    )
    assert (want == got).all()

    # linking's input: its own family, char 3-gram sets, crc32
    from guac_spark import link

    a, b = mh.hash_family(link.N_HASHES, link.HASH_SEED)
    surfs = ["grace-hopperr", "alan-turingg", "ada", "x", "topic_3",
             "grace-hopperr"]
    grams = [link._ngrams(s) for s in surfs]
    batch = mh.signatures_batch(grams, a, b, link._gram_hash)
    for i, g in enumerate(grams):
        want = mh.signature(g, a, b, link._gram_hash)
        assert np.array_equal(batch[i], want), surfs[i]

    # both sides of minhash_pairs' gate band with the batch kernel, one
    # Arrow batch of documents per call: at threshold 0, whole or in
    # batches of 2, they return exactly the pairs whose scalar
    # signatures share a band key, scored by the scalar set Jaccard
    a, b = mh.hash_family(mh.N_HASHES)
    docs = texts + [
        "the quick brown fox jumps over the lazy dog again",
        "a b c d e f g h i j k x",
        "repeat repeat token repeat",
    ]
    # bigram_sets keeps the documents with at least two tokens
    sets = {i: mh.word_bigrams(t) for i, t in enumerate(docs)
            if len(t.split()) >= 2}
    keys = {i: mh.band_keys(mh.signature(s, a, b, mh.shingle_hash)[None],
                            mh.N_BANDS)[0] for i, s in sets.items()}
    want = {
        (i, j): round(len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 6)
        for i, j in itertools.combinations(sorted(sets), 2)
        if (keys[i] == keys[j]).any()
    }
    assert len(want) >= 3
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(conf)
    try:
        for side in gate_sides:
            for batch in (default, "2"):
                spark.conf.set(conf, batch)
                got = {(r["a"], r["b"]): r["jacc"]
                       for r in dedup.minhash_pairs(df, 0.0).collect()}
                assert got == want, (side, batch)
    finally:
        spark.conf.set(conf, default)


def test_vectorized_simhash_matches_scalar():
    import re

    from guac_spark.textops.dedup import _simhash64, _simhash_batch

    texts = [
        "the quick brown fox", "", "zz " * 500, "one two three two one",
    ]
    toks = [re.findall(r"[a-z]+", t) for t in texts]
    got = _simhash_batch(toks)
    want = [format(_simhash64(t), "016x") for t in texts]
    assert got == want


def test_exact_dedup_finds_staged_copies(spark):
    docs = dedup.load_documents(spark, SF_SMALL)
    staged = dedup.staged_documents(docs)
    out = dedup.exact_dedup(staged)
    dup_groups = out.filter("n_copies > 1").count()
    expected = docs.filter("doc_id % 10 = 0").count()
    assert dup_groups == expected
    # keeper is always the original (min id)
    assert out.filter("n_copies > 1").filter("keeper_doc_id >= 20000").count() == 0


def test_simhash_exact_copy_distance_zero(spark):
    docs = dedup.staged_documents(dedup.load_documents(spark, SF_SMALL))
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)
    got = {(r["a"], r["b"]) for r in pairs.filter("hamming = 0").collect()}
    exact_copies = {
        (r["doc_id"], r["doc_id"] + 20000)
        for r in dedup.load_documents(spark, SF_SMALL)
        .filter("doc_id % 10 = 0").collect()
    }
    assert exact_copies <= got


def test_ann_lsh_recall_vs_bruteforce(spark, gate_sides):
    emb = similarity.load_embeddings(spark, SF_SMALL)
    qids = [0, 1, 2, 3, 4]
    for side in gate_sides:
        brute = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ann_topk_bruteforce(emb, qids, 5).collect()
        }
        lsh = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ann_topk_lsh(
                emb, qids, 5, n_bits=4).collect()
        }
        # approximate: require non-trivial recall, exactness not expected
        recall = len(brute & lsh) / len(brute)
        assert recall > 0.1, (side, recall)
        # every LSH hit must be a real corpus vector with a valid rank
        assert all(q in qids for q, _ in lsh), side


def test_ivf_assignment_is_a_partition(spark):
    """Every corpus vector lands in exactly one inverted list (lists are
    disjoint and total — the property that lets the probe join skip the
    dedup multi-probe LSH needs)."""
    emb = similarity.load_embeddings(spark, SF_SMALL)
    cent = similarity.ivf_centroids(emb)
    assigned = similarity.ivf_assign(emb, cent)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    lists = {r["list_id"] for r in cent.collect()}
    assert {r["list_id"] for r in assigned.collect()} <= lists


def test_ivf_full_probe_equals_bruteforce(spark, gate_sides):
    """nprobe = nlist degrades IVF to an exact scan — output must be
    row-identical to the brute-force baseline (rank ties included)."""
    emb = similarity.load_embeddings(spark, SF_SMALL)
    qids = [0, 1, 2, 3, 4]
    nlist = similarity.ivf_centroids(emb).count()
    for side in gate_sides:
        brute = sorted(map(
            tuple, similarity.ann_topk_bruteforce(emb, qids, 5).collect()
        ))
        ivf = sorted(map(
            tuple,
            similarity.ann_topk_ivf(emb, qids, 5, nprobe=nlist).collect(),
        ))
        assert ivf == brute, side


def test_ivf_recall_vs_bruteforce(spark, gate_sides):
    emb = similarity.load_embeddings(spark, SF_SMALL)
    qids = [0, 1, 2, 3, 4]
    for side in gate_sides:
        brute = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ann_topk_bruteforce(emb, qids, 5).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ann_topk_ivf(
                emb, qids, 5, nprobe=3).collect()
        }
        recall = len(brute & ivf) / len(brute)
        assert recall > 0.1, (side, recall)
        assert all(q in qids for q, _ in ivf), side


def test_driver_ann_topk_ivf_runs_one_job(spark):
    """Below the gate, an IVF search is the one collect of its embedding
    relation, and the caller's action adds one job for the local
    result."""
    emb = similarity.load_embeddings(spark, SF_SMALL)
    with job_group(spark, "ivf-driver"):
        out = similarity.ann_topk_ivf(emb, [0, 1, 2, 3, 4], 5, nprobe=3)
        assert group_jobs(spark, "ivf-driver") == 1
        out.write.format("noop").mode("overwrite").save()
        assert group_jobs(spark, "ivf-driver") == 2
    assert out.count() == 25


def test_driver_minhash_pairs_runs_one_job(spark):
    """Below the gate, MinHash near-dup pairs are the one collect of the
    shingle relation (no Python-worker stage, no bucket or verify job),
    and the caller's action adds one job for the local result."""
    docs = dedup.staged_documents(dedup.load_documents(spark, SF_SMALL))
    with job_group(spark, "minhash-driver"):
        out = dedup.minhash_pairs(docs, 0.7)
        assert group_jobs(spark, "minhash-driver") == 1
        out.write.format("noop").mode("overwrite").save()
        assert group_jobs(spark, "minhash-driver") == 2
    assert out.count() > 0


def test_round6_matches_spark_round(spark):
    """The driver side rounds output cos and IVF centroids as F.round
    does: HALF_UP on each double's shortest decimal repr, including the
    values that sit exactly on a half at the 7th decimal."""
    import numpy as np

    rng = np.random.default_rng(7)
    vals = [float(f"{sign}0.{i:06d}5") for sign in ("", "-")
            for i in range(0, 10**6, 997)]
    vals += [0.0, -1e-7, 5e-7, 2.5e-6, 0.9999995, 1234.5675]
    vals += rng.uniform(-2.0, 2.0, 2000).tolist()
    df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
    want = [r["r"] for r in
            df.orderBy("i").select(F.round("x", 6).alias("r")).collect()]
    assert similarity._round6(np.array(vals)).tolist() == want
    # a matrix (IVF centroids) rounds element by element
    got = similarity._round6(np.array(vals).reshape(2, -1))
    assert got.ravel().tolist() == want


def test_near_pairs_lsh_rejects_duplicate_ids(spark, gate_sides):
    emb = similarity.load_embeddings(spark, SF_SMALL)
    dup = emb.unionByName(emb.filter("vec_id = 7"))
    for side in gate_sides:
        with pytest.raises(ValueError, match="unique vec_ids"):
            similarity.cosine_near_pairs_lsh(dup, 0.99)
        with pytest.raises(ValueError, match="unique vec_ids"):
            similarity.cosine_near_pairs_lsh(dup, 0.99, n_bits=8)


def test_minhash_banding_recall_vs_independent_exact(spark, gate_sides):
    """ADVICE r3: the DuckDB oracle renders the implementation's own hash
    family into SQL, so a recall bug in hash_family/band_keys would cancel
    out in the driver compare. This test bounds banded recall against an
    INDEPENDENT ground truth — pure-Python set Jaccard over word bigrams —
    on a fixture of high-similarity pairs (J >= 0.9, banding admit
    probability > 0.9999 under the frozen 96/16x6 family, so the
    deterministic run must find every one)."""
    import itertools

    from guac_spark.textops import minhash as mh

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a stitch in time saves nine and a rolling stone gathers no moss",
        "pack my box with five dozen liquor jugs before the long trip",
        "how vexingly quick daft zebras jump over the sleeping brown cat",
        "she sells sea shells by the sea shore every single summer day",
        "we hold these truths to be self evident that all code has bugs",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 2, t))
        rows.append((i * 2 + 1, " ".join(t.split()[:-1])))  # drop last word
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: mh.word_bigrams(t) for i, t in rows}
    want = set()
    for i, j in itertools.combinations(sorted(sets), 2):
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        if jac >= 0.7:
            want.add((i, j))
    assert len(want) == len(base)  # each base pairs with its variant only
    # recall: nothing the independent exact truth finds is dropped by
    # banding; precision: the exact verify keeps nothing below threshold
    for side in gate_sides:
        got = {(r["a"], r["b"])
               for r in dedup.minhash_pairs(df, 0.7).collect()}
        assert got == want, side


def test_ivf_kmeans_full_probe_equals_bruteforce(spark, gate_sides):
    """Search exactness is independent of the quantizer: with the
    k-means-refined centroids and nprobe = nlist, IVF must still
    reproduce the brute-force baseline row-identically (IVF with given
    centroids always runs in Spark; brute force runs on both sides)."""
    emb = similarity.load_embeddings(spark, SF_SMALL)
    qids = [0, 1, 2, 3, 4]
    kc = similarity.ivf_centroids_kmeans(emb, iters=1)
    nlist = kc.count()
    ivf = sorted(
        map(
            tuple,
            similarity.ann_topk_ivf(
                emb, qids, 5, nprobe=nlist, centroids=kc
            ).collect(),
        )
    )
    for side in gate_sides:
        brute = sorted(map(
            tuple, similarity.ann_topk_bruteforce(emb, qids, 5).collect()
        ))
        assert ivf == brute, side


def test_ivf_kmeans_assignment_stays_a_partition(spark):
    """One Lloyd step must preserve the disjoint-and-total property of
    the inverted lists (lists may shrink or die, never overlap)."""
    emb = similarity.load_embeddings(spark, SF_SMALL)
    kc = similarity.ivf_centroids_kmeans(emb, iters=1)
    assigned = similarity.ivf_assign(emb, kc)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
