"""Property-based tests (hypothesis) for the deterministic kernels.

These cover the pieces whose determinism the P/R gate depends on:
n-gram Jaccard, MinHash signatures, union-find, simhash.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from guac_spark import link
from guac_spark.cc import _union_find_local
from guac_spark.link import _exact_jaccard, _ngrams
from guac_spark.textops import minhash
from guac_spark.textops.dedup import _simhash64

_A, _B = minhash.hash_family(link.N_HASHES, link.HASH_SEED)


def _minhash_sig(s: str):
    # linking's signature: char 3-grams, crc32, the link hash family
    return minhash.signature(_ngrams(s), _A, _B, link._gram_hash)

words = st.text(alphabet="abcdefg-", min_size=1, max_size=20)


@given(words, words)
@settings(max_examples=200, deadline=None)
def test_jaccard_bounds_and_symmetry(a, b):
    j = float(_exact_jaccard(pd.Series([a, b]), pd.Series([b, a]))[0])
    j2 = float(_exact_jaccard(pd.Series([b]), pd.Series([a]))[0])
    assert 0.0 <= j <= 1.0
    assert abs(j - j2) < 1e-12
    assert float(_exact_jaccard(pd.Series([a]), pd.Series([a]))[0]) == 1.0


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
