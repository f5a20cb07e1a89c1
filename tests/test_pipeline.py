"""End-to-end pipeline tests against the brute-force golden oracle —
the Spark mirror of the reference's recall evaluation
(Performance::update, src/Query.cpp:9-67; gate: dup-pair recall >= 0.99
at the frozen config)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.fixtures import (
    PAGES_SCHEMA, generate_pages, golden_clusters, golden_pairs,
)
from lsh_apg_spark.pipeline import run_dedup

CFG = DedupConfig()
# hot group is near-identical (distinct texts) so it survives the
# exact-dup collapse; 2x bucket_cap members keeps its LSH buckets above
# the cap even though band membership is probabilistic (~0.5-0.7 of the
# group per bucket), so the main run exercises salting + rep chains
HOT = CFG.bucket_cap * 2


@pytest.fixture(scope="module")
def fixture_bundle(spark):
    fx = generate_pages(n_docs=360, seed=42, hot_group_size=HOT)
    gp = golden_pairs(fx.pages, CFG)
    gc = golden_clusters(fx.pages, gp)
    pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)
    return fx, gp, gc, pages


@pytest.fixture(scope="module")
def result(spark, fixture_bundle):
    _, _, _, pages = fixture_bundle
    return run_dedup(spark, pages, CFG, include_substring=False)


def test_recall_gate(fixture_bundle, result):
    """Dup-pair recall >= 0.99 vs the brute-force exact-Jaccard oracle.

    A golden pair counts as found iff both members share a cluster —
    the reference's connectivity semantics (divGraph.h:1233-1333):
    capped/salted mega-buckets intentionally emit O(n) of their O(n^2)
    internal edges, and transitive closure recovers the rest."""
    _, gp, _, _ = fixture_bundle
    golden = set(zip(gp["a"], gp["b"]))
    assert golden, "oracle produced no dup pairs — fixture broken"
    cl = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    found = sum(1 for a, b in golden if cl[a] == cl[b])
    recall = found / len(golden)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(golden)} golden)"


def test_no_false_positives(fixture_bundle, result):
    """Every emitted edge is a true >=tau pair (verification is exact)."""
    _, gp, _, _ = fixture_bundle
    golden = set(zip(gp["a"], gp["b"]))
    found = {(r["a"], r["b"]) for r in result.edges.select("a", "b").collect()}
    assert found <= golden, f"false positives: {sorted(found - golden)[:5]}"


def test_cluster_parity(fixture_bundle, result):
    """(url, cluster_id) matches union-find over the golden pairs —
    cluster_id = min member url (deterministic tie-break)."""
    _, _, gc, _ = fixture_bundle
    ours = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    golden = dict(zip(gc["url"], gc["cluster_id"]))
    assert set(ours) == set(golden)
    mismatches = {u for u in golden if ours[u] != golden[u]}
    assert not mismatches, f"{len(mismatches)} cluster mismatches"


def test_edge_invariants(result):
    """Mirror of the reference's runtime invariants: no duplicate
    pairs, no self-pairs, canonical order (src/Query.cpp:62,
    src/divGraph.h:1162)."""
    e = result.edges
    n = e.count()
    assert e.dropDuplicates(["a", "b"]).count() == n
    assert e.filter(F.col("a") >= F.col("b")).count() == 0
    assert e.filter((F.col("jaccard") < CFG.tau) | (F.col("jaccard") > 1.0)).count() == 0


def test_verify_edges_carries_extra_pair_columns(spark, result):
    """verify_edges keeps any other pair column between (a, b) and
    jaccard, in order; run_dedup's (a, b) pairs still give edges of
    exactly (a, b, jaccard)."""
    from lsh_apg_spark.operators.verify import verify_edges
    sigs = spark.createDataFrame(
        [("x", [1, 2, 3]), ("y", [1, 2, 3]), ("z", [7, 8, 9])],
        "url string, shingles array<bigint>")
    pairs = spark.createDataFrame([("x", "y", "t1"), ("x", "z", "t2")],
                                  "a string, b string, tag string")
    edges = verify_edges(pairs, sigs, CFG)
    assert edges.columns == ["a", "b", "tag", "jaccard"]
    assert [tuple(r) for r in edges.collect()] == [("x", "y", "t1", 1.0)]
    assert result.edges.columns == ["a", "b", "jaccard"]


def test_every_url_assigned_once(fixture_bundle, result):
    _, _, _, pages = fixture_bundle
    n_docs = pages.count()
    c = result.clusters
    assert c.count() == n_docs
    assert c.select("url").distinct().count() == n_docs
    # every stage materializes and records its row count and wall time
    stages = [m for m in result.metrics if m["stage"] != "bucket_stats"]
    assert [m["stage"] for m in stages] == [
        "rep_map", "signatures", "bucket_subgroups", "pairs", "edges",
        "clusters"]
    for m in stages:
        assert type(m["rows"]) is int, m
        assert isinstance(m["wall_sec"], float), m
    assert next(m["rows"] for m in stages if m["stage"] == "clusters") \
        == n_docs


def test_hot_group_salted_and_connected(fixture_bundle, result):
    """The adversarial mega-bucket (identical boilerplate, size >
    bucket_cap) must have been salted AND still resolve into one
    cluster via subgroup-representative chains."""
    fx, _, _, _ = fixture_bundle
    hot = set(fx.hot_group)
    assert len(hot) == HOT > CFG.bucket_cap
    # distinct texts → the collapse stage must NOT fold them
    n_texts = fx.pages[fx.pages["url"].isin(hot)]["text"].nunique()
    assert n_texts == HOT
    stats = next(m for m in result.metrics if m["stage"] == "bucket_stats")
    assert stats["salted_buckets"] > 0, "hot group did not trigger salting"
    rows = result.clusters.filter(F.col("url").isin(list(hot))).collect()
    cluster_ids = {r["cluster_id"] for r in rows}
    assert len(cluster_ids) == 1, f"hot group split into {len(cluster_ids)} clusters"
    # salting must bound candidate volume: << all-pairs of the hot group
    n_pairs = result.pairs.count()
    assert n_pairs < HOT * (HOT - 1) / 2 + 2000, n_pairs


def test_degenerate_corpora(spark):
    """Empty, single-doc, and all-identical corpora flow end-to-end
    (including the substring pass) without special-casing."""
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    r = run_dedup(spark, empty, CFG)
    assert r.clusters.count() == 0

    one = spark.createDataFrame(
        [("u1", None, None, "just one document here", "en")], PAGES_SCHEMA)
    r = run_dedup(spark, one, CFG)
    assert [(x["url"], x["cluster_id"]) for x in r.clusters.collect()] \
        == [("u1", "u1")]

    same = spark.createDataFrame(
        [(f"u{i}", None, None, "identical text for everyone", "en")
         for i in range(5)], PAGES_SCHEMA)
    r = run_dedup(spark, same, CFG)
    ids = {x["cluster_id"] for x in r.clusters.collect()}
    assert ids == {"u0"} and r.clusters.count() == 5


def test_substring_pass(spark, fixture_bundle, result):
    """Planted containment pairs (verbatim span inside unrelated
    boilerplate) are caught by winnowing + exact LCS verify. The
    cluster-graph variant keeps exactly the pairs the MinHash edges
    lack."""
    fx, _, _, pages = fixture_bundle
    from lsh_apg_spark.operators.substring import (
        substring_edges, substring_links,
    )

    edges = substring_edges(pages, CFG)
    rows = edges.collect()
    found = {(r["a"], r["b"]) for r in rows}
    planted = set(fx.substring_pairs)
    assert planted, "fixture planted no substring pairs"
    missed = planted - found
    assert not missed, f"substring pairs missed: {sorted(missed)[:5]}"
    assert all(r["lcs_len"] >= CFG.min_substring_len for r in rows)

    known = result.edges.select("a", "b")
    minhash = {(r["a"], r["b"]) for r in known.collect()}
    links = {(r["a"], r["b"])
             for r in substring_links(pages, CFG, known=known).collect()}
    assert found & minhash and found - minhash
    assert links == found - minhash


def test_driver_contract_full_oracle_coverage():
    """Round-5 invariant: EVERY queries() entry has a DuckDB oracle
    (the formerly rows-only hash/quantizer-seeded family was converted
    via plane/sketch fixtures, the md5-re-frozen IVF init, unrolled
    bounded-loop replays and margin guards). A new entry landing
    without its oracle — or an oracle for a renamed/removed query —
    fails here before the driver's correctness run ever sees it."""
    import __spark_entry__ as entrymod

    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))
