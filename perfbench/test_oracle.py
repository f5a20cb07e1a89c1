"""Tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_oracle.py -q

The oracle restricted to planted groups must find exactly the pairs
that brute force over ALL pairs finds, at a size where brute force is
cheap."""

from __future__ import annotations

import difflib
import os
import random
import sys
from itertools import combinations

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lsh_apg_spark.config import DedupConfig  # noqa: E402
from lsh_apg_spark.fixtures import golden_pairs  # noqa: E402

from corpus import crawl_corpus, incremental_split  # noqa: E402
from oracle import (  # noqa: E402
    duplicate_pairs, score, shares_substring, word_shingles,
)
from spans import Tracer  # noqa: E402

CFG = DedupConfig()


def _texts(corpus) -> dict[str, str]:
    return dict(zip(corpus.pages["url"], corpus.pages["text"]))


def test_jaccard_oracle_equals_brute_force_golden_pairs():
    for seed in (1, 2, 3):
        corpus = crawl_corpus(seed, n_docs=150)
        gold = golden_pairs(corpus.pages, CFG)
        got = duplicate_pairs(_texts(corpus), corpus.groups, CFG,
                              substring=False)
        assert got == set(zip(gold["a"], gold["b"]))


def test_substring_oracle_equals_brute_force():
    corpus = crawl_corpus(4, n_docs=100)
    texts = _texts(corpus)
    sets = {u: word_shingles(t, CFG.shingle_size) for u, t in texts.items()}
    brute = set()
    for x, y in combinations(sorted(texts), 2):
        inter = len(sets[x] & sets[y])
        if (inter / (len(sets[x]) + len(sets[y]) - inter) >= CFG.tau
                or shares_substring(texts[x], texts[y],
                                    CFG.min_substring_len)):
            brute.add((x, y))
    got = duplicate_pairs(texts, corpus.groups, CFG, substring=True)
    assert got == brute
    # the substring pairs are found only by the substring test
    assert got > duplicate_pairs(texts, corpus.groups, CFG, substring=False)


def test_shares_substring_matches_difflib_longest_match():
    rng = random.Random(0)
    for _ in range(300):
        a = "".join(rng.choice("ab c") for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice("ab c") for _ in range(rng.randint(0, 40)))
        longest = difflib.SequenceMatcher(None, a, b, autojunk=False) \
            .find_longest_match(0, len(a), 0, len(b)).size
        for length in (1, 2, 4, 7):
            assert shares_substring(a, b, length) == (longest >= length)


def test_incremental_split_is_seeded_and_disjoint():
    c1, base1, batches1 = incremental_split(5, n_base=80, n_batch=20,
                                            n_batches=3)
    _, base2, batches2 = incremental_split(5, n_base=80, n_batch=20,
                                           n_batches=3)
    assert [list(b["url"]) for b in batches1] \
        == [list(b["url"]) for b in batches2]
    assert list(base1["text"]) == list(base2["text"])
    parts = [set(base1["url"])] + [set(b["url"]) for b in batches1]
    assert sum(map(len, parts)) == len(set().union(*parts)) == 140
    assert set().union(*parts) == set(c1.pages["url"])


def test_score_counts_recall_and_false_merges():
    urls = {"a", "b", "c", "d"}
    pairs = {("a", "b")}
    good = score([("a", "a"), ("b", "a"), ("c", "c"), ("d", "d")], urls, pairs)
    assert good.ok and good.dup_recall == 1.0 and good.false_merge_rate == 0
    bad = score([("a", "a"), ("b", "b"), ("c", "c"), ("d", "c")], urls, pairs)
    assert bad.dup_recall == 0.0 and bad.false_merge_rate == 1.0
    assert not bad.ok
    missing = score([("a", "a"), ("b", "a"), ("c", "c")], urls, pairs)
    assert not missing.covered and not missing.ok


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_span_self_time_and_job_group_nesting():
    sc = _FakeContext()
    tracer = Tracer(sc)
    with tracer.span("incremental", "batch") as outer:
        with tracer.span("checkpoints", "write_many") as inner:
            assert sc.group == inner.group
        assert sc.group == outer.group
    assert sc.group is None
    assert inner.parent == 0
    selfs = tracer.layer_self_times()
    assert abs(selfs["incremental"] + selfs["checkpoints"] - outer.wall) < 1e-9
    assert tracer.top_level_wall() == outer.wall


def test_tree_rss_skips_children_that_share_the_root_executable():
    import subprocess
    import time

    from spans import _tree_rss_mb

    def rss(pid):
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / (1 << 20)

    # a copy of this interpreter stands in for a JVM child caught
    # between vfork and exec; `sleep` for a genuine worker process
    twin = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    other = subprocess.Popen(["sleep", "30"])
    try:
        time.sleep(0.5)
        got = _tree_rss_mb(os.getpid())
        want = rss(os.getpid()) + rss(other.pid)
        assert abs(got - want) < 1.0
    finally:
        for p in (twin, other):
            p.kill()
            p.wait()
