"""Property-based tests (hypothesis) for the deterministic kernels.

These cover the pieces whose determinism the P/R gate depends on:
n-gram Jaccard, MinHash signatures, union-find, simhash.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from guac_spark import link
from guac_spark.cc import _union_find_local
from guac_spark.link import _ngrams
from guac_spark.textops import minhash
from guac_spark.textops.dedup import _simhash64

_A, _B = minhash.hash_family(link.N_HASHES, link.HASH_SEED)


def _minhash_sig(s: str):
    # linking's signature: char 3-grams, crc32, the link hash family
    return minhash.signature(_ngrams(s), _A, _B, link._gram_hash)

words = st.text(alphabet="abcdefg-", min_size=1, max_size=20)


@given(st.lists(st.tuples(words, words), min_size=1, max_size=50))
@settings(max_examples=20, deadline=None)
def test_jaccard_bounds_and_symmetry(spark, pairs):
    # linking's JVM verify, one DataFrame per drawn batch of pairs
    def j(x, y):
        return minhash.jaccard(
            minhash.char_grams(x, link.NGRAM), minhash.char_grams(y, link.NGRAM)
        )

    rows = (
        spark.createDataFrame(pairs, "a string, b string")
        .select(j("a", "b").alias("ab"), j("b", "a").alias("ba"),
                j("a", "a").alias("aa"))
        .collect()
    )
    assert len(rows) == len(pairs)
    for (a, b), r in zip(pairs, rows, strict=True):
        ga, gb = _ngrams(a), _ngrams(b)
        assert r["ab"] == len(ga & gb) / len(ga | gb)
        assert 0.0 <= r["ab"] <= 1.0
        assert abs(r["ab"] - r["ba"]) < 1e-12
        assert r["aa"] == 1.0


@given(words)
@settings(max_examples=100, deadline=None)
def test_minhash_is_deterministic_and_signature_of_set(s):
    sig1 = _minhash_sig(s)
    sig2 = _minhash_sig(s)
    assert (sig1 == sig2).all()
    assert len(sig1) == 32


@given(words, words)
@settings(max_examples=100, deadline=None)
def test_minhash_agreement_tracks_jaccard_extremes(a, b):
    # identical strings -> identical signatures; disjoint gram sets ->
    # agreement only by hash collision (never all 32 rows in practice)
    if a == b:
        assert (_minhash_sig(a) == _minhash_sig(b)).all()
    elif not (_ngrams(a) & _ngrams(b)):
        assert (_minhash_sig(a) == _minhash_sig(b)).mean() < 1.0


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).map(
            lambda t: (f"n{t[0]:02d}", f"n{t[1]:02d}")
        ),
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_union_find_properties(pairs):
    pairs = [(a, b) for a, b in pairs if a != b]
    comp = dict(_union_find_local(pairs))
    for a, b in pairs:
        assert comp[a] == comp[b]  # connected endpoints share a component
    for n, c in comp.items():
        assert c <= n  # label is the component minimum
        assert comp[c] == c  # the representative is its own label


@given(st.text(alphabet="abc xyz", max_size=60))
@settings(max_examples=100, deadline=None)
def test_simhash_deterministic_64bit(text):
    h1, h2 = _simhash64(text), _simhash64(text)
    assert h1 == h2
    assert 0 <= h1 < 2**64
