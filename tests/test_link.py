"""Entity linking: head/tail determinism and LSH recall guarantees."""

from __future__ import annotations

import pytest

from guac_spark import corpus, extract, link
from guac_spark.link import _ngrams
from guac_spark.textops import minhash
from tests.conftest import SF_SMALL


def _jvm_jaccard(spark, pairs):
    """JVM char-3-gram Jaccard of every (x, y) pair, in input order, from
    ONE DataFrame."""
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pairs)],
        "i long, x string, y string",
    )
    j = minhash.jaccard(
        minhash.char_grams("x", link.NGRAM), minhash.char_grams("y", link.NGRAM)
    )
    return [r["j"] for r in df.select("i", j.alias("j")).orderBy("i").collect()]


def _setops_jaccard(x, y):
    gx, gy = _ngrams(x), _ngrams(y)
    return len(gx & gy) / len(gx | gy)


def test_ngram_jaccard_reference(spark):
    a = _ngrams("algeria")
    b = _ngrams("algeriaa")
    assert len(a & b) / len(a | b) > 0.8
    [j] = _jvm_jaccard(spark, [("algeria", "algeriaa")])
    assert j == len(a & b) / len(a | b)


def test_variant_links_are_exactly_ground_truth(spark):
    """LSH+prefix blocking must recover exactly: variant -> source alias
    (argmax 3-gram Jaccard >= 0.5), nothing more, nothing less."""
    t = corpus.transcripts(spark, SF_SMALL)
    adict = corpus.alias_dict(spark, SF_SMALL)
    linked = link.link_exact(extract.extract_mentions_fused(t), adict)
    unmatched = link.unmatched_surfaces(linked)
    got = {
        (r["src"], r["dst"]) for r in link.link_tail(unmatched, adict).collect()
    }
    surfaces = {r["surface"] for r in unmatched.collect()}
    expected = set()
    for p in corpus.PERSONS:
        v1, v2 = p + p[-1], p + p[-1] * 2
        if v1 in surfaces:
            expected.add((f"ent:unk/{v1}", f"ent:person/{p}"))
        if v2 in surfaces:
            expected.add((f"ent:unk/{v2}", f"ent:person/{p}"))
    assert got == expected
    # mystery guests must never link
    assert not any("mystery" in s for s, _ in got)


def test_no_ambiguous_cross_links():
    """Structural guarantee behind the oracle: no variant is >= 0.5-similar
    to any alias other than its source."""
    for p in corpus.PERSONS:
        for v in (p + p[-1], p + p[-1] * 2):
            gv = _ngrams(v)
            for q in corpus.PERSONS:
                j = len(gv & _ngrams(q)) / len(gv | _ngrams(q))
                if q == p:
                    assert j >= 0.5, (v, q, j)
                else:
                    assert j < 0.5, (v, q, j)


def test_celebrity_head_link_is_broadcast(spark):
    """The head-linking join must be a broadcast hash join (no shuffle of
    the mention stream) — the plan-shape contract for 100 TB."""
    t = corpus.transcripts(spark, SF_SMALL)
    adict = corpus.alias_dict(spark, SF_SMALL)
    linked = link.link_exact(extract.extract_mentions_fused(t), adict)
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vectorized_jaccard_matches_setops(spark):
    """The JVM Jaccard over char_grams must be bit-identical to the
    per-pair set-ops definition over _ngrams for every pair shape:
    identical strings, the empty string, short (<3-char, whole-string
    gram) strings, disjoint gram sets, duplicate pairs within one batch,
    and the corpus's real tails — 25k pairs in one DataFrame."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefqrstuvwxyz-"
    strs = ["", "ab", "a", "abc", "aaa", "aaaa", "ada-lovelace",
            "ada-lovelacee", "ada-lovelaceee", "grace-hopper", "xyz"]
    strs += ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
             for _ in range(400)]
    pairs = [(rng.choice(strs), rng.choice(strs)) for _ in range(25_000)]
    pairs += [(s, s) for s in strs]
    got = _jvm_jaccard(spark, pairs)
    for (x, y), g in zip(pairs, got, strict=True):
        assert g == _setops_jaccard(x, y), (x, y, g)


def test_link_tail_raises_on_null_surface_or_alias(spark):
    """A null surface or person alias would score a null Jaccard and drop
    out of the threshold filter unseen: link_tail must fail loudly."""
    adict = spark.createDataFrame(
        [("ada-lovelace", "ent:person/ada-lovelace", "person")],
        "alias string, entity_id string, kind string",
    )
    unmatched = spark.createDataFrame([("ada-lovelacee",)], "surface string")
    assert link.link_tail(unmatched, adict).count() == 1
    null_surface = unmatched.unionByName(
        spark.createDataFrame([(None,)], "surface string")
    )
    with pytest.raises(Exception, match="link_tail: null surface"):
        link.link_tail(null_surface, adict).collect()
    null_alias = adict.unionByName(
        spark.createDataFrame(
            [(None, "ent:person/x", "person")],
            "alias string, entity_id string, kind string",
        )
    )
    with pytest.raises(Exception, match="link_tail: null alias"):
        link.link_tail(unmatched, null_alias).collect()


def test_block_key_recall_precondition():
    """BLOCK_K=5's single-contiguous-edit recall guarantee needs every
    dictionary alias >= 2*BLOCK_K chars (an edit anywhere then leaves the
    first or last K intact). Heads are literal (checked exhaustively);
    generated aliases are always 12 chars by construction."""
    assert 2 * link.BLOCK_K <= 10
    assert min(len(p) for p in corpus.PERSONS) >= 10
    # the generated-alias template is substr(sha, 1, 12) -> 12 chars
    assert "substr" in corpus.gen_alias_expr("pid", "spark")
    assert ", 1, 12)" in corpus.gen_alias_expr("pid", "spark")

