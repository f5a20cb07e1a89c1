"""Exact duplicate oracle that shares no code with the engine.

Duplicates are searched only inside the generator's planted groups
(every other pair is random token soup over a 2000-word vocabulary,
far below any threshold). Inside a group a pair is a duplicate if its
word 3-gram sets over ``text.lower().split()`` reach Jaccard >= tau, or,
when the substring pass is on, if the two texts share a substring of at
least ``min_substring_len`` characters. Both tests are plain Python: no
hashing, no MinHash, no winnowing. ``test_oracle.py`` checks the
planted-group restriction against the brute-force all-pairs
``fixtures.golden_pairs`` at a small size."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from dataclasses import dataclass
from itertools import combinations

from lsh_apg_spark.config import DedupConfig

MIN_RECALL = 0.99


def word_shingles(text: str, k: int) -> frozenset:
    toks = text.lower().split()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i:i + k]) for i in range(len(toks) - k + 1))


def shares_substring(a: str, b: str, length: int) -> bool:
    """True iff the longest common substring of a and b is >= length
    characters: some length-`length` window of b occurs in a."""
    if min(len(a), len(b)) < length:
        return False
    windows = {a[i:i + length] for i in range(len(a) - length + 1)}
    return any(b[j:j + length] in windows
               for j in range(len(b) - length + 1))


def duplicate_pairs(texts: dict[str, str], groups: list[list[str]],
                    cfg: DedupConfig, substring: bool) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for group in groups:
        sets = {u: word_shingles(texts[u], cfg.shingle_size) for u in group}
        for x, y in combinations(sorted(group), 2):
            sx, sy = sets[x], sets[y]
            inter = len(sx & sy)
            if inter / (len(sx) + len(sy) - inter) >= cfg.tau or (
                    substring and shares_substring(
                        texts[x], texts[y], cfg.min_substring_len)):
                out.add((x, y))
    return out


def cached_pairs(cache_dir: str, key: str, texts: dict[str, str],
                 groups: list[list[str]], cfg: DedupConfig,
                 substring: bool) -> set[tuple[str, str]]:
    """duplicate_pairs, cached on disk per (key = seed and size, config,
    substring flag)."""
    tag = hashlib.sha1(
        f"{key}|{cfg.config_id()}|{substring}".encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {tuple(p) for p in json.load(f)}
    pairs = duplicate_pairs(texts, groups, cfg, substring)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(sorted(pairs), f)
    os.replace(path + ".tmp", path)
    return pairs


@dataclass
class Score:
    dup_recall: float
    false_merge_rate: float
    covered: bool             # every expected url labelled exactly once

    @property
    def ok(self) -> bool:
        return (self.covered and self.dup_recall >= MIN_RECALL
                and self.false_merge_rate == 0.0)


def score(rows: list[tuple[str, str]], urls: set[str],
          pairs: set[tuple[str, str]]) -> Score:
    """rows = (url, cluster_id) of one cluster table; urls = the docs it
    must cover; pairs = oracle duplicate pairs (restricted to `urls`)."""
    label = dict(rows)
    covered = len(label) == len(rows) and label.keys() == urls
    pairs = {p for p in pairs if p[0] in urls and p[1] in urls}
    hit = sum(label.get(a) is not None and label.get(a) == label.get(b)
              for a, b in pairs)
    size = Counter(label.values())
    partnered = {u for p in pairs for u in p}
    singles = [u for u in urls if u not in partnered]
    merged = sum(size[label[u]] > 1 for u in singles if u in label)
    return Score(dup_recall=hit / len(pairs) if pairs else 1.0,
                 false_merge_rate=merged / len(singles) if singles else 0.0,
                 covered=covered)
