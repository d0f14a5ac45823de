"""Entity linking: broadcast alias-dictionary join + MinHash-LSH tail.

GUAC links strings to identity deterministically via pURLs
(/root/reference/pkg/assembler/helpers/purl.go:37-44): same canonical string
=> same node. Head aliases here work the same way — an exact broadcast join
against the alias dictionary. The transcript domain adds a long tail of
near-duplicate surfaces the dictionary doesn't know; those are blocked with
MinHash-LSH over character 3-grams plus prefix/suffix keys (one candidate
join), verified JVM-side with exact 3-gram Jaccard, and linked
to their best dictionary alias. The output links feed connected-components
canonicalization (cc.py), mirroring GUAC's PkgEqual/HashEqual equivalence
semantics (/root/reference/pkg/assembler/backends/keyvalue/pkgEqual.go) but
physically merged per the north rule.

Scale notes (100 TB):
  * the dictionary is small — always broadcast; the mention side never
    shuffles for the head join.
  * LSH runs over DISTINCT unmatched surfaces (a tiny fraction of mentions),
    so the expensive pairwise work is decoupled from corpus size.
  * banding bounds candidate pairs; deterministic prefix-K and suffix-K
    blocks (K = BLOCK_K = 5) guarantee recall for any single contiguous
    edit independently of MinHash luck (multi-blocking — recall is a
    correctness gate here, P/R >= 0.95).
  * celebrity aliases are hot keys only on the mention side of a broadcast
    join — no shuffle, no skew. Hot-key aggregations downstream (CC
    min-labels, top-k counts) are algebraic, so map-side partial
    aggregation bounds them.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import minhash

# --- deterministic MinHash parameters (frozen for P/R reproducibility,
#     the analog of GUAC's fixed FNV node keys,
#     /root/reference/pkg/assembler/backends/keyvalue/backend.go:375-388) ---
# The kernel is textops/minhash.py's, shared with document dedup; linking
# fixes its own family seed, band count and gram hash (crc32).
# 4 bands x 8 rows. Per-band collision probability is J^rows: 8-row
# bands keep random pairs out, and a J≈0.9 true pair collides in ~1.9 of
# 4 bands, so few duplicate candidates reach the distinct (measured
# −8..−12% on the equivalences stage against 8 x 4 at 8M turns/c32,
# outputs byte-identical). The deterministic prefix+suffix blocks
# (below) carry the recall guarantee for the edit-tails; banding is free
# to change — the oracle's ground truth is exact Jaccard, and recall is
# pinned by the independent pure-Python ground-truth test
# (tests/test_link.py).
N_HASHES = 32
N_BANDS = 4  # 8 rows per band
HASH_SEED = 42

NGRAM = 3
JACCARD_THRESHOLD = 0.5


def _ngrams(s: str) -> set[str]:
    if len(s) < NGRAM:
        return {s}
    return {s[i : i + NGRAM] for i in range(len(s) - NGRAM + 1)}


def _gram_hash(g: str) -> int:
    # crc32 < 2^32, the bound minhash.signatures_batch keeps int64-safe
    return zlib.crc32(g.encode("utf-8"))


def link_exact(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Head linking: broadcast exact-match join against the dictionary.

    Adds `entity_id`: dictionary id on hit, 'ent:unk/<surface>' provisional
    id on miss (the analog of GUAC's guac-purl fallback fabrication,
    /root/reference/pkg/assembler/helpers/purl.go:272-295). 'reply' mentions
    are already canonical turn refs and pass through.

    Version-qualified tool surfaces ('name@vN') exercise the identity
    trie (GUAC package.graphql:20-101: type -> name -> version +
    qualifiers): the DICT lookup uses the base name, and a hit links to
    'ent:tool/<name>?v=N' — a distinct version-level node whose
    qualifiers enter identity sorted via canonical_qualifiers. Plain
    surfaces are byte-for-byte unaffected.
    """
    from .canonical import canonical_qualifiers

    ver = F.regexp_extract("surface", r"@v([0-9]+)$", 1)
    base = F.when(
        (F.col("kind") == "tool") & (ver != ""),
        F.regexp_extract("surface", r"^([a-z_]+)@v", 1),
    ).otherwise(F.col("surface"))
    m = mentions.withColumn("_base", base)
    d = alias_dict.select(
        F.col("alias"), F.col("entity_id").alias("_dict_entity"), F.col("kind")
    )
    joined = m.join(
        F.broadcast(d),
        on=[m["_base"] == d["alias"], m["kind"] == d["kind"]],
        how="left",
    ).drop("alias", d["kind"])
    qsuffix = F.when(
        (F.col("kind") == "tool") & (ver != ""),
        F.concat(
            F.lit("?"),
            canonical_qualifiers(
                F.map_from_arrays(F.array(F.lit("v")), F.array(ver))
            ),
        ),
    ).otherwise(F.lit(""))
    return joined.withColumn(
        "entity_id",
        F.when(F.col("kind") == "reply", F.col("surface")).otherwise(
            F.coalesce(
                F.when(
                    F.col("_dict_entity").isNotNull(),
                    F.concat(F.col("_dict_entity"), qsuffix),
                ),
                F.concat(F.lit("ent:unk/"), F.col("surface")),
            )
        ),
    ).drop("_dict_entity", "_base")


def _minhash_bands(df: DataFrame, col: str) -> DataFrame:
    """Distinct strings -> (string, band, band_key) via mapInPandas:
    char 3-grams in Python, then the shared whole-batch numpy kernel
    (minhash.band_frame) per Arrow batch."""
    a, b = minhash.hash_family(N_HASHES, HASH_SEED)
    schema = f"{col} string, band int, band_key long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                surfs = pdf[col].to_numpy()
                yield minhash.band_frame(
                    col, surfs, [_ngrams(s) for s in surfs], a, b, N_BANDS,
                    _gram_hash,
                )

    return df.select(col).distinct().mapInPandas(gen, schema)


# deterministic block key length. r5 shipped 4; the r6 candidate-volume
# probe (NOTES_r6 #1, 6.4M turns / 219k unmatched x 128k
# aliases) measured the 4-char blocks as the dominant junk source:
# pfx4 = 645k and sfx4 = 450k candidates against ~219k true pairs, vs
# pfx5/6 ~= true-pairs-only (16^5 = 1M key space >> universe). 5 keeps
# the formal recall guarantee (below) for every string the universe can
# contain: all dictionary aliases are >= 10 chars (heads >= 11 by
# inspection, generated names = 12; pytest-pinned in test_link).
BLOCK_K = 5


def _block_keys(df: DataFrame, col: str, lb_shifts: list[int]) -> DataFrame:
    """(string, key) rows for every blocking arm of one side: one row per
    MinHash band ('b<band>:<band_key>'), and per length-bucket shift one
    prefix-K ('p<lb>:') and one suffix-K ('s<lb>:') block, lb being the
    coarse length bucket length/4 plus the shift. The arm tag keeps keys
    from colliding across arms; shifting one side by -1, 0, +1 makes the
    equi-join itself the |lb_s - lb_a| <= 1 filter of the block arms."""
    bands = _minhash_bands(df, col).select(
        col, F.format_string("b%d:%d", "band", "band_key").alias("key")
    )
    lb = (F.length(col) / 4).cast("int")
    blocks = df.select(
        col,
        F.explode(
            F.array(*[
                F.format_string(f"{arm}%d:%s", lb + d,
                                F.substring(col, pos, BLOCK_K))
                for arm, pos in (("p", 1), ("s", -BLOCK_K))
                for d in lb_shifts
            ])
        ).alias("key"),
    )
    return bands.unionByName(blocks)


def lsh_candidate_pairs(
    unmatched: DataFrame, dict_aliases: DataFrame
) -> DataFrame:
    """Candidate (surface, alias) pairs via MinHash-LSH banding plus
    deterministic prefix-K AND suffix-K blocks (each with a coarse length
    bucket), K = BLOCK_K.

    The deterministic blocks are the recall GUARANTEE, sized for a
    corpus-proportional universe: any pair whose edits avoid the first K
    chars shares the prefix block, any pair whose edits avoid the last K
    shares the suffix block — a single contiguous edit (append, prefix
    change, one substitution on a >= 2K-char string) is always caught by
    at least one. K-char keys keep blocks ~|universe|/alphabet^(K-1)
    small, so candidate volume stays ~O(universe) (BLOCK_K's comment has
    the measurement). MinHash banding covers the residue (multi-edit
    high-Jaccard pairs).

    Both inputs are distinct single-column DataFrames: unmatched('surface'),
    dict_aliases('alias'). All three arms are one keyed relation per side
    (_block_keys), so candidate generation is ONE equi-join on the key
    plus ONE distinct over its output — the blocking step ahead of the
    matcher.
    """
    # no forced broadcast: the dictionary side GROWS with the corpus now,
    # so the join strategy is left to Catalyst/AQE — tiny dicts still
    # broadcast under the session threshold, corpus-proportional ones
    # hash-join on the (uniform) band/block keys
    s = _block_keys(unmatched, "surface", [0])
    a = _block_keys(dict_aliases, "alias", [-1, 0, 1])
    return s.join(a, on="key").select("surface", "alias").distinct()


def _non_null(col: str) -> Column:
    # the verify scores null grams as a null Jaccard, which the threshold
    # filter would drop without a word: fail loudly instead
    return F.when(
        F.col(col).isNull(), F.raise_error(F.lit(f"link_tail: null {col}"))
    ).otherwise(F.col(col)).alias(col)


def link_tail(
    unmatched: DataFrame,
    alias_dict: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Link unmatched surfaces to their best dictionary alias.

    Returns (src, dst) same_as link edges:
    ('ent:unk/<surface>', '<dict entity_id>'), one per surface (argmax
    Jaccard >= threshold, ties broken by min alias — deterministic under
    any parallelism). Candidates are verified JVM-side with the exact
    char-3-gram Jaccard (minhash.char_grams / minhash.jaccard, the
    oracle's definition). A null surface or person alias raises.
    """
    persons = alias_dict.filter(F.col("kind") == "person").select(
        _non_null("alias"), "entity_id"
    )
    cands = lsh_candidate_pairs(
        unmatched.select(_non_null("surface")).distinct(),
        persons.select("alias").distinct(),
    )
    scored = cands.withColumn(
        "jacc",
        minhash.jaccard(
            minhash.char_grams("surface", NGRAM),
            minhash.char_grams("alias", NGRAM),
        ),
    )
    # deterministic argmax per surface in ONE aggregation:
    # min(struct(-jacc, alias)) = highest jacc, ties -> min alias; a max
    # re-joined to the scored pairs would evaluate candidates twice. The
    # threshold applies to the winner (the best pair clears it iff any
    # does), so no filter is pushed below the verify to score it twice.
    w_best = (
        scored.groupBy("surface")
        .agg(
            F.min(
                F.struct(
                    (-F.col("jacc")).alias("nj"), F.col("alias").alias("a")
                )
            ).alias("b")
        )
        .filter(F.col("b.nj") <= -threshold)
        .select("surface", F.col("b.a").alias("alias"))
    )
    # src = ent:unk/<surface> is unique per surface after the argmax —
    # no trailing distinct needed (the pipeline dedups the union with
    # the aka arm anyway)
    return w_best.join(persons, on="alias").select(
        F.concat(F.lit("ent:unk/"), F.col("surface")).alias("src"),
        F.col("entity_id").alias("dst"),
    )


def unmatched_surfaces(linked_mentions: DataFrame) -> DataFrame:
    """Distinct provisional surfaces needing tail linking.

    kind='aka' rows (fused-scan equivalence pairs riding in the mentions
    table) are excluded: their surfaces already appear as person mentions,
    and only those decide the tail-LSH input."""
    return (
        linked_mentions.filter(F.col("entity_id").startswith("ent:unk/"))
        .filter(F.col("kind") != "aka")
        .select("surface")
        .distinct()
    )
