"""Connected-components unit tests on hand-built graphs (SURVEY.md §5:
chain, star, two components, singletons) — mirrors the reference's
traverse/connectivity labeling (src/divGraph.h:1233-1333)."""

from __future__ import annotations

import random

from lsh_apg_spark.operators.components import connected_components


def _cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "a string, b string")
    n = spark.createDataFrame([(x,) for x in nodes], "url string") if nodes else None
    rows = connected_components(e, nodes=n).collect()
    return {r["url"]: r["cluster_id"] for r in rows}


def test_chain(spark):
    # long chain stresses pointer jumping (worst case for pure propagation)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)]
    out = _cc(spark, edges)
    assert set(out.values()) == {"n000"}
    assert len(out) == 31


def test_star(spark):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    out = _cc(spark, edges)
    assert set(out.values()) == {"hub"}


def test_two_components_and_singleton(spark):
    edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2")]
    out = _cc(spark, edges, nodes=["a1", "a2", "a3", "b1", "b2", "lonely"])
    assert out["a1"] == out["a2"] == out["a3"] == "a1"
    assert out["b1"] == out["b2"] == "b1"
    assert out["lonely"] == "lonely"


def test_edge_direction_irrelevant(spark):
    out1 = _cc(spark, [("x", "y"), ("z", "y")])
    out2 = _cc(spark, [("y", "x"), ("y", "z")])
    assert out1 == out2 == {"x": "x", "y": "x", "z": "x"}


def test_chain_job_count(spark, count_jobs):
    """Job-count guard: test_chain's 30-edge graph fits one task, so
    the CC is one shuffle and one union-find pass (two jobs), and the
    collect one more. The per-round min-label loop ran 47-54 jobs."""
    e = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)], "a string, b string")
    rows, jobs = count_jobs(lambda: connected_components(e).collect())
    assert {r["cluster_id"] for r in rows} == {"n000"}
    assert jobs <= 3, jobs


def _union_find(edges, nodes=()):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    for x in nodes:
        find(x)
    return {x: find(x) for x in parent}


def test_multi_partition_matches_union_find(spark, count_jobs):
    """With AQE coalescing off a small graph stays spread over the
    shuffle partitions, so the boundary between partition-local
    components is closed by the recursion that large graphs take.
    Every label must match a plain-Python union-find."""
    rng = random.Random(7)
    graphs = []
    for n in (50, 2000):
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(n * 3 // 5)]
        graphs += [("long", pairs, list(range(n))),
                   ("string", [(f"u{a}", f"u{b}") for a, b in pairs], None)]
    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(500)]
    rng.shuffle(chain)
    graphs.append(("string", chain, None))
    messy = [("b", "a"), ("a", "b"), ("a", "b"), ("a", "a"), ("c", "c"),
             ("d", "b"), ("e", "d"), ("f", "g")]
    graphs.append(("string", messy, list("abcdefgh")))

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        for typ, edges, nodes in graphs:
            e = spark.createDataFrame(edges, f"a {typ}, b {typ}")
            n = None if nodes is None else \
                spark.createDataFrame([(x,) for x in nodes], f"url {typ}")
            out, jobs = count_jobs(lambda: connected_components(e, nodes=n))
            got = {r["url"]: r["cluster_id"] for r in out.collect()}
            assert got == _union_find(edges, nodes or ()), (typ, len(edges))
            # one pass is two jobs; closing the boundary takes more
            assert jobs > 2, (typ, len(edges), jobs)

        empty = spark.createDataFrame([], "a string, b string")
        nodes = spark.createDataFrame([("x",), ("y",)], "url string")
        out, jobs = count_jobs(lambda: connected_components(empty, nodes=nodes))
        assert {r["url"]: r["cluster_id"] for r in out.collect()} == \
            {"x": "x", "y": "y"}
        assert jobs <= 2, jobs
    finally:
        spark.conf.set(conf, saved)
