"""Unit tests for the numpy kernels (SURVEY.md §5: shingling
determinism, MinHash ≈ Jaccard, SimHash monotonicity, winnowing
guarantee)."""

from __future__ import annotations

import random

import numpy as np

from lsh_apg_spark.functions import kernels


def test_shingle_determinism():
    t = "The quick brown Fox jumps over the lazy dog"
    a = kernels.shingle_hashes(t, 3, {})
    b = kernels.shingle_hashes(t, 3, {})
    assert np.array_equal(a, b)
    # case/whitespace normalization is frozen behavior
    c = kernels.shingle_hashes("the  quick BROWN fox jumps over the lazy dog", 3, {})
    assert np.array_equal(a, c)


def test_shingle_short_and_empty_docs():
    assert kernels.shingle_hashes("", 3, {}).size == 1
    assert kernels.shingle_hashes("one two", 3, {}).size == 1
    assert not np.array_equal(
        kernels.shingle_hashes("one two", 3, {}),
        kernels.shingle_hashes("two one", 3, {}),
    )


def _random_doc(rng: random.Random, n: int) -> list[str]:
    return [f"tok{rng.randrange(500)}" for _ in range(n)]


def test_minhash_estimates_jaccard():
    rng = random.Random(7)
    a, b = kernels.minhash_params(256, seed=42)
    for _ in range(5):
        base = _random_doc(rng, 300)
        var = list(base)
        for _ in range(30):
            var[rng.randrange(len(var))] = f"tok{rng.randrange(500)}"
        sa = kernels.shingle_hashes(" ".join(base), 3, {})
        sb = kernels.shingle_hashes(" ".join(var), 3, {})
        inter = np.intersect1d(sa, sb).size
        true_j = inter / (sa.size + sb.size - inter)
        ma = kernels.minhash_signature(sa, a, b)
        mb = kernels.minhash_signature(sb, a, b)
        est = float((ma == mb).mean())
        assert abs(est - true_j) < 0.12, (est, true_j)


def test_winnowing_guarantee():
    """Any two texts sharing a span >= window + kgram - 1 share a
    fingerprint — the theorem the substring pass rests on."""
    rng = random.Random(13)
    kgram, window = 16, 35  # t = 50 chars
    span = "".join(rng.choice("abcdefgh ") for _ in range(80))
    a = "".join(rng.choice("qrstuvwx ") for _ in range(100)) + span
    b = span + "".join(rng.choice("ijklmnop ") for _ in range(100))
    fa = kernels.winnow_fingerprints(a, kgram, window)
    fb = kernels.winnow_fingerprints(b, kgram, window)
    assert np.intersect1d(fa, fb).size > 0
    # and disjoint texts share nothing
    c = "".join(rng.choice("0123456 ") for _ in range(200))
    fc = kernels.winnow_fingerprints(c, kgram, window)
    assert np.intersect1d(fa, fc).size == 0


def test_exact_jaccard_bounds():
    assert kernels.exact_jaccard("a b c d e", "a b c d e", 3) == 1.0
    assert kernels.exact_jaccard("a b c d e", "v w x y z", 3) == 0.0
    j = kernels.exact_jaccard("a b c d e f g h", "a b c d e f g x", 3)
    assert 0.0 < j < 1.0


def test_lcs_len():
    assert kernels.longest_common_substring_len("hello world", "say hello world!") == 11
    assert kernels.longest_common_substring_len("abc", "xyz") == 0


def test_lcs_len_matches_difflib():
    """The rolling-hash binary-search LCS must agree with the exact
    O(n*m) difflib scan it replaced (randomized, with planted shared
    substrings)."""
    import difflib
    import random

    rng = random.Random(7)
    for _ in range(60):
        n1, n2 = rng.randint(0, 60), rng.randint(0, 60)
        a = "".join(rng.choice("abc ") for _ in range(n1))
        b = "".join(rng.choice("abc ") for _ in range(n2))
        if rng.random() < 0.5 and n1 > 10:
            i = rng.randint(0, n1 - 10)
            b += a[i:i + rng.randint(5, n1 - i)]
        sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
        want = sm.find_longest_match(0, len(a), 0, len(b)).size
        assert kernels.longest_common_substring_len(a, b) == want, (a, b)



def test_lcs_len_is_in_chars_not_bytes():
    """ADVICE r2: the LCS kernel must count CHARACTERS (the unit
    config.min_substring_len documents), not UTF-8 bytes — on CJK/
    accented text a byte count inflates lengths up to 4x, silently
    loosening the substring threshold. Agreement with the exact char-
    based difflib scan on randomized multi-byte text is the gate."""
    import difflib
    import random

    span = "株式会社データ処理éèüß" * 6  # 72 chars, 3-byte-heavy
    a = "前置きテキスト" + span
    b = span + "後続テキスト"
    got = kernels.longest_common_substring_len(a, b)
    assert got == len(span), (got, len(span))

    rng = random.Random(11)
    alphabet = "語処理データéü日本 ab"
    for _ in range(30):
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50)))
        y = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50)))
        sm = difflib.SequenceMatcher(None, x, y, autojunk=False)
        want = sm.find_longest_match(0, len(x), 0, len(y)).size
        assert kernels.longest_common_substring_len(x, y) == want, (x, y)


def test_winnowing_guarantee_non_ascii():
    """The winnowing guarantee (shared span >= t chars -> shared
    fingerprint) must hold in CHARACTER units on multi-byte text."""
    rng = random.Random(17)
    kgram, window = 16, 35  # t = 50 CHARS
    cjk = "語処理計算機科学研究 "
    span = "".join(rng.choice(cjk) for _ in range(55))
    a = "".join(rng.choice("qrstuvwx ") for _ in range(100)) + span
    b = span + "".join(rng.choice("ijklmnop ") for _ in range(100))
    fa = kernels.winnow_fingerprints(a, kgram, window)
    fb = kernels.winnow_fingerprints(b, kgram, window)
    assert np.intersect1d(fa, fb).size > 0


def test_shingle_hashes_arrow_matches_per_doc():
    """The Arrow-tokenized batch kernel (ascii_lower + split +
    dictionary_encode in C, per-doc rolling combine) must be
    ELEMENT-IDENTICAL to the frozen per-doc kernel — including the
    documented Python-vs-Arrow casing divergences (dotted capital I,
    Greek final sigma), which MUST route through the non-ASCII
    fallback, and whitespace/control-char edge cases."""
    import numpy as np

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(200)]
    texts = [
        "", None, "one", "one two", "one two three",
        "a a a a a a", "uniéode tökens ünd mòre hère now",
        " ".join(rng.choice(vocab, size=300)),
        " ".join(rng.choice(vocab, size=7)),
        "THE Quick BROWN fox " * 40,
        "  leading and trailing whitespace  ",
        "tab\tand\x1ccontrol\x1dsplits\x1e here \x1f too",
        "İstanbul ΣΟΦΟΣ casing divergence ΤΕΛΟΣ",
        "mixed ASCII and İ dotted",
        "\x0b\x0c vertical form feeds \x0b",
    ]
    for k in (2, 3, 5):
        cache: dict = {}
        batch = kernels.shingle_hashes_arrow_batch(texts, k, cache)
        assert len(batch) == len(texts)
        for t, got in zip(texts, batch):
            ref = kernels.shingle_hashes(t or "", k, {})
            assert np.array_equal(ref, got), (k, t)
