"""Checkpoint/resume contract tests (maps S4-S8 cache-or-build,
src/Preprocess.cpp:227-254): resumed runs are byte-identical; a config
change invalidates the cache."""

from __future__ import annotations

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
from lsh_apg_spark.pipeline import run_dedup
from lsh_apg_spark.sources.checkpoints import CheckpointStore

CFG = DedupConfig()


def test_store_roundtrip_and_lineage(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "s"), CFG)
    df = spark.range(100).withColumnRenamed("id", "x")
    calls = []

    def build():
        calls.append(1)
        return df

    out1 = store.get_or_create("t", build)
    out2 = store.get_or_create("t", build)
    assert len(calls) == 1, "second call must resume, not rebuild"
    assert out1.count() == out2.count() == 100
    lin = store.lineage("t")
    assert lin["rows"] == 100 and lin["config_id"] == CFG.config_id()
    assert sum(p["rows"] for p in lin["partitions"]) == 100


def test_config_change_invalidates(spark, tmp_path):
    root = str(tmp_path / "s2")
    store = CheckpointStore(spark, root, CFG)
    store.write(spark.range(5), "t")
    assert store.exists("t")
    other = CheckpointStore(spark, root, DedupConfig(tau=0.9))
    assert not other.exists("t"), "different config must not resume"


def test_pipeline_resume_identical(spark, tmp_path):
    """North-rule resume: second run reuses every stage and produces
    byte-identical assignments. The stages are keyed by url, the row
    shape of the incremental store."""
    fx = generate_pages(n_docs=80, seed=7)
    pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    r1 = run_dedup(spark, pages, CFG, checkpoint_dir=ckpt,
                   include_substring=False)
    first = sorted((r["url"], r["cluster_id"]) for r in r1.clusters.collect())
    store = CheckpointStore(spark, ckpt, CFG)
    assert store.read("signatures").columns == ["url", "shingles", "bhashes"]
    ends = {u for r in store.read("edges").collect() for u in (r["a"], r["b"])}
    assert ends and ends <= set(fx.pages["url"])
    r2 = run_dedup(spark, pages, CFG, checkpoint_dir=ckpt,
                   include_substring=False)
    resumed = {m["stage"]: m.get("resumed") for m in r2.metrics
               if "resumed" in m}
    for s in ["signatures", "bucket_subgroups", "pairs", "edges",
              "clusters"]:
        assert resumed[s], f"stage {s} was rebuilt: {resumed}"
    second = sorted((r["url"], r["cluster_id"]) for r in r2.clusters.collect())
    assert first == second


def test_pipeline_resume_rejects_changed_input(spark, tmp_path):
    """A checkpoint resumes only for the input that produced it: an
    80-doc run followed by a 120-doc run on the same checkpoint_dir
    must rebuild, label all 120 urls, and match a run with no store;
    re-running the 120 docs then resumes every stage."""
    ckpt = str(tmp_path / "ckpt")

    def pages(n):
        fx = generate_pages(n_docs=n, seed=7)
        return spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)

    run_dedup(spark, pages(80), CFG, checkpoint_dir=ckpt,
              include_substring=False)
    big = pages(120)
    r2 = run_dedup(spark, big, CFG, checkpoint_dir=ckpt,
                   include_substring=False)
    resumed = [m["stage"] for m in r2.metrics if m.get("resumed")]
    assert resumed == [], f"stale stages resumed: {resumed}"
    got = sorted((r["url"], r["cluster_id"]) for r in r2.clusters.collect())
    ref = run_dedup(spark, big, CFG, include_substring=False).clusters
    assert len(got) == 120
    assert got == sorted((r["url"], r["cluster_id"]) for r in ref.collect())

    r3 = run_dedup(spark, big, CFG, checkpoint_dir=ckpt,
                   include_substring=False)
    assert all(m["resumed"] for m in r3.metrics if "resumed" in m)


def test_pipeline_resume_keeps_substring_setting_apart(spark, tmp_path):
    """A cluster table built with substring edges never resumes into a
    run without them, nor the other way round: each run on a shared
    checkpoint_dir matches a run with no store."""
    fx = generate_pages(n_docs=200, seed=5)
    pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA) \
        .localCheckpoint(eager=True)

    def assignment(**kw):
        clusters = run_dedup(spark, pages, CFG, **kw).clusters
        return sorted((r["url"], r["cluster_id"]) for r in clusters.collect())

    ref = {sub: assignment(include_substring=sub) for sub in (False, True)}
    assert ref[False] != ref[True]
    for order in ((False, True), (True, False)):
        ckpt = str(tmp_path / "ckpt_{}_{}".format(*order))
        for sub in order:
            got = assignment(checkpoint_dir=ckpt, include_substring=sub)
            assert got == ref[sub], f"order {order}, include_substring={sub}"
