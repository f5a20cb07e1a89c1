"""Candidate pair generation checked in plain Python: the emitted pair
set and the bucket stats are compared with facts read straight off the
bucket rows, with no code shared with operators/pairs.py. Small
bucket_cap / salt_subgroup settings make most multi-member buckets hot,
so the salted path carries most of the load."""

from __future__ import annotations

import itertools
from collections import defaultdict

import pytest

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
from lsh_apg_spark.operators.banding import explode_buckets
from lsh_apg_spark.operators.pairs import (
    bucket_arrays, bucket_stats_from_groups, candidate_pairs,
)
from lsh_apg_spark.operators.signatures import compute_signatures

CFG = DedupConfig()


@pytest.fixture(scope="module")
def bucket_rows(spark):
    """(materialized (url, bhash) rows, {bhash: [url per row]})."""
    fx = generate_pages(n_docs=120, seed=3)
    pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)
    sigs = compute_signatures(pages.select("url", "text"), CFG)
    rows = explode_buckets(sigs, CFG).localCheckpoint(eager=True)
    buckets = defaultdict(list)
    for r in rows.collect():
        buckets[r["bhash"]].append(r["url"])
    return rows, dict(buckets)


def _components(nodes: set, pairs) -> int:
    parent = {u: u for u in nodes}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len({find(u) for u in nodes})


@pytest.mark.parametrize("cap,subgroup", [(2, 1), (3, 2)])
def test_candidate_pairs_match_plain_bucket_facts(bucket_rows, cap, subgroup):
    rows, buckets = bucket_rows
    cfg = DedupConfig(bucket_cap=cap, salt_subgroup=subgroup)
    groups = bucket_arrays(rows, cfg).localCheckpoint(eager=True)
    pairs = {(r["a"], r["b"]) for r in candidate_pairs(groups, cfg).collect()}

    members = {k: set(urls) for k, urls in buckets.items() if len(urls) >= 2}
    hot = [k for k, urls in buckets.items() if len(urls) > cap]
    assert hot and len(hot) < len(members)
    keys_of = defaultdict(set)
    for k, m in members.items():
        for u in m:
            keys_of[u].add(k)

    # every emitted pair is canonical and lies inside one bucket
    for a, b in pairs:
        assert a < b and keys_of[a] & keys_of[b], (a, b)
    # a bucket within the cap yields every pair of its members
    for k, urls in buckets.items():
        if 2 <= len(urls) <= cap:
            assert set(itertools.combinations(sorted(set(urls)), 2)) <= pairs
    # a hot bucket's members are connected by the emitted pairs
    for k in hot:
        inside = [(a, b) for a, b in pairs
                  if a in members[k] and b in members[k]]
        assert _components(members[k], inside) == 1, k

    n_rows = sum(len(urls) for urls in buckets.values())
    sizes = [len(urls) for urls in buckets.values()]
    stats = bucket_stats_from_groups(groups, cfg, n_rows).first().asDict()
    assert stats == {
        "num_buckets": len(buckets),
        "max_bucket": max(sizes),
        "avg_bucket": n_rows / len(buckets),
        "salted_buckets": sum(n > cap for n in sizes),
        "salted_rows": sum(n for n in sizes if n > cap),
    }


def test_candidate_pairs_job_count(bucket_rows, count_jobs):
    """Job-count guard: over a materialized groups frame with hot
    buckets, pair generation is row-local plus one dedup shuffle — 2
    jobs for the shuffle stage and the checkpoint. Re-exploding the hot
    buckets and regrouping their subgroups ran 4."""
    rows, _ = bucket_rows
    cfg = DedupConfig(bucket_cap=2, salt_subgroup=1)
    groups = bucket_arrays(rows, cfg).localCheckpoint(eager=True)
    _, jobs = count_jobs(
        lambda: candidate_pairs(groups, cfg).localCheckpoint(eager=True))
    assert 0 < jobs <= 2, jobs
