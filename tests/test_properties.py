"""Property-based tests (hypothesis) for the pure numpy kernels.

The example-based tests in test_kernels.py pin known cases; these
drive the same kernels over randomized unicode inputs against
independent oracles (difflib for LCS, set algebra for Jaccard, direct
definition for banding collisions). Derandomized + bounded so the
suite stays deterministic and fast.
"""
from __future__ import annotations

import difflib

import numpy as np
from hypothesis import given, settings, strategies as st

from lsh_apg_spark.functions import kernels

# short alphabets force collisions/overlaps, which is where the
# kernels' edge cases live; include a non-ASCII char so the
# code-point (not byte) unit stays honest
_ALPHA = "ab 語"
_texts = st.text(alphabet=_ALPHA, min_size=0, max_size=60)
_words = st.lists(
    st.text(alphabet="abc語", min_size=1, max_size=4), min_size=0, max_size=30
).map(" ".join)

_FAST = settings(max_examples=60, deadline=None, derandomize=True)


@_FAST
@given(_texts, _texts)
def test_lcs_matches_difflib_property(a: str, b: str) -> None:
    got = kernels.longest_common_substring_len(a, b)
    want = difflib.SequenceMatcher(
        None, a, b, autojunk=False).find_longest_match(
        0, len(a), 0, len(b)).size
    assert got == want, (a, b, got, want)


@_FAST
@given(_texts, _texts, st.integers(min_value=1, max_value=64))
def test_shares_substring_is_lcs_threshold(a: str, b: str, L: int) -> None:
    """The one-window test agrees with the LCS length, including texts
    shorter than L (L ranges past the 60-char max text)."""
    assert kernels.shares_substring(a, b, L) == (
        kernels.longest_common_substring_len(a, b) >= L), (a, b, L)


@_FAST
@given(_texts, _texts, st.sampled_from([-1, 0, 1]))
def test_shares_substring_at_shared_span_boundary(a: str, b: str,
                                                  d: int) -> None:
    """L at the longest shared span's length and one either side."""
    n = kernels.longest_common_substring_len(a, b)
    L = max(1, n + d)
    assert kernels.shares_substring(a, b, L) == (n >= L), (a, b, L)


@_FAST
@given(_words, _words, st.integers(min_value=1, max_value=4))
def test_exact_jaccard_is_true_set_jaccard(a: str, b: str, k: int) -> None:
    """exact_jaccard == |Sa ∩ Sb| / |Sa ∪ Sb| over the shingle-hash
    sets, symmetric, in [0,1], and 1.0 on identical text."""
    got = kernels.exact_jaccard(a, b, k)
    sa = set(kernels.shingle_hashes(a, k, {}).tolist())
    sb = set(kernels.shingle_hashes(b, k, {}).tolist())
    want = len(sa & sb) / len(sa | sb) if (sa | sb) else 1.0
    assert got == want
    assert 0.0 <= got <= 1.0
    assert got == kernels.exact_jaccard(b, a, k)
    assert kernels.exact_jaccard(a, a, k) == 1.0


@_FAST
@given(_words, st.integers(min_value=1, max_value=5))
def test_shingle_hashes_sorted_distinct_nonempty(text: str, k: int) -> None:
    sh = kernels.shingle_hashes(text, k, {})
    assert len(sh) >= 1  # every doc gets a non-empty shingle set
    assert np.all(sh[:-1] < sh[1:])  # sorted strictly increasing


@_FAST
@given(st.data())
def test_band_key_collision_iff_band_agrees(data) -> None:
    """Two signatures share band b's base key iff the band's rows all
    agree; probe p's key tolerates a mismatch ONLY at row p-1 — the
    collision structure the banding stage relies on (SURVEY §2.2 P5-P7)."""
    bands, r = 4, 3
    num_probes = 2
    H = bands * r
    rng_sig = data.draw(st.lists(
        st.integers(min_value=-2**63, max_value=2**63 - 1),
        min_size=H, max_size=H))
    a = np.array(rng_sig, dtype=np.int64)
    b = a.copy()
    band = data.draw(st.integers(min_value=0, max_value=bands - 1))
    flip_row = data.draw(st.integers(min_value=0, max_value=r - 1))
    b[band * r + flip_row] ^= 1  # perturb exactly one row of one band
    keys = kernels.band_probe_keys(
        np.vstack([a, b]), bands, r, num_probes)
    ka, kb = keys[0], keys[1]
    stride = 1 + num_probes
    for bb in range(bands):
        base = bb * stride
        if bb != band:  # untouched bands collide on every key
            assert np.array_equal(ka[base:base + stride],
                                  kb[base:base + stride])
            continue
        assert ka[base] != kb[base]  # base key differs
        for p in range(1, num_probes + 1):
            # probe p leaves out row p-1: collides iff that is the row
            # we flipped
            if p - 1 == flip_row:
                assert ka[base + p] == kb[base + p]
            else:
                assert ka[base + p] != kb[base + p]


@_FAST
@given(_texts, _texts,
       st.text(alphabet=_ALPHA, min_size=12, max_size=25))
def test_winnowing_shared_span_guarantee(pre: str, post: str,
                                         span: str) -> None:
    """Planting the same span in two otherwise-arbitrary texts
    guarantees a shared fingerprint once the span length clears
    window + kgram - 1 (Schleimer et al. SIGMOD'03 Thm 1)."""
    kgram, window = 4, 6
    if len(span) < window + kgram - 1:
        return
    fa = kernels.winnow_fingerprints(pre + span, kgram, window)
    fb = kernels.winnow_fingerprints(span + post, kgram, window)
    assert np.intersect1d(fa, fb).size >= 1
