"""Entity linking: head/tail determinism and LSH recall guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from guac_spark import corpus, extract, link
from guac_spark.link import _exact_jaccard, _ngrams
from tests.conftest import SF_SMALL

import pandas as pd


def test_ngram_jaccard_reference():
    a = _ngrams("algeria")
    b = _ngrams("algeriaa")
    assert len(a & b) / len(a | b) > 0.8
    s = _exact_jaccard(pd.Series(["algeria"]), pd.Series(["algeriaa"]))
    assert abs(s[0] - len(a & b) / len(a | b)) < 1e-12


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


def test_vectorized_jaccard_matches_setops():
    """The batched bitset-popcount Jaccard must be bit-identical to the
    per-pair set-ops definition for every pair shape: identical strings,
    short (<3-char, whole-string gram) strings, disjoint gram sets,
    duplicate pairs within one batch, and the corpus's real tails."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefqrstuvwxyz-"
    strs = ["ab", "a", "abc", "ada-lovelace", "ada-lovelacee",
            "ada-lovelaceee", "grace-hopper", "xyz"]
    strs += ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
             for _ in range(200)]
    pairs = [(rng.choice(strs), rng.choice(strs)) for _ in range(2000)]
    pairs += [(s, s) for s in strs]
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    got = _exact_jaccard(a, b)
    for i, (x, y) in enumerate(pairs):
        gx, gy = _ngrams(x), _ngrams(y)
        want = len(gx & gy) / len(gx | gy)
        assert got[i] == want, (x, y, got[i], want)


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

