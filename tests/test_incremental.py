"""Incremental / streaming dedup tests (maps the reference's online
insert contract, insertLSHRefine src/divGraph.h:471-526): processing a
corpus in micro-batches must produce the SAME final assignment as one
batch run, and re-delivery must be idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
from lsh_apg_spark.pipeline import run_dedup
from lsh_apg_spark.sources.checkpoints import CheckpointStore
from lsh_apg_spark.streaming.incremental import dedup_increment, stream_dedup

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    fx = generate_pages(n_docs=120, seed=11)
    return spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA) \
        .localCheckpoint(eager=True)


def _assignments(df):
    return sorted((r["url"], r["cluster_id"]) for r in df.collect())


def test_incremental_equals_batch(spark, corpus, tmp_path):
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    store = CheckpointStore(spark, str(tmp_path / "inc"), CFG)
    half1 = corpus.limit(60)
    half2 = corpus.subtract(half1)
    dedup_increment(spark, half1, store, CFG)
    final = dedup_increment(spark, half2, store, CFG)
    assert _assignments(final) == _assignments(batch)
    # bucket rows are re-derived from the stored signatures, never stored
    assert sorted(p.name for p in (tmp_path / "inc").iterdir()
                  if p.is_dir()) == ["clusters", "docs", "edges", "signatures"]
    # docs is a url ledger and edges hold endpoints only
    assert store.read("docs").columns == ["url"]
    assert store.read("edges").columns == ["a", "b"]


def test_incremental_redelivery_idempotent(spark, corpus, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "inc2"), CFG)
    first = dedup_increment(spark, corpus, store, CFG)
    a1 = _assignments(first)
    again = dedup_increment(spark, corpus, store, CFG)  # full re-delivery
    assert _assignments(again) == a1


def _state_files(root):
    """Every state file under the store -> its bytes: part-file names
    and sidecars (with their written_at_epoch) included."""
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


def test_incremental_redelivery_writes_nothing(spark, corpus, tmp_path):
    """A batch with no new url is a no-op: the stored assignment comes
    back and not one state file is rewritten."""
    root = tmp_path / "inc_noop"
    store = CheckpointStore(spark, str(root), CFG)
    a1 = _assignments(dedup_increment(spark, corpus, store, CFG))
    before = _state_files(root)
    metrics: dict = {}
    again = dedup_increment(spark, corpus, store, CFG, metrics=metrics)
    assert _assignments(again) == a1
    assert metrics == {"cc_nodes": 0, "cc_edges": 0}
    assert _state_files(root) == before


def test_incremental_mixed_batch_equals_batch(spark, corpus, tmp_path):
    """A batch that is half re-delivered, half new adds only the new
    half and still lands on the one-shot assignment."""
    urls = sorted(r["url"] for r in corpus.select("url").collect())
    store = CheckpointStore(spark, str(tmp_path / "inc_mixed"), CFG)
    dedup_increment(spark, corpus.filter(F.col("url").isin(urls[:80])),
                    store, CFG)
    mixed = corpus.filter(F.col("url").isin(urls[40:]))
    final = dedup_increment(spark, mixed, store, CFG)
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(final) == _assignments(batch)
    assert store.lineage("docs")["rows"] == len(urls)
    # the stored edges and the batch's new edges are disjoint
    edges = store.read("edges")
    assert edges.count() == edges.distinct().count()


def test_incremental_without_cluster_table_equals_batch(spark, corpus,
                                                         tmp_path):
    """A store whose cluster table is missing re-clusters every doc
    and edge on the next batch and still lands on the one-shot
    assignment."""
    store = CheckpointStore(spark, str(tmp_path / "inc_nocl"), CFG)
    half1 = corpus.limit(60)
    dedup_increment(spark, half1, store, CFG)
    store.invalidate("clusters")
    metrics: dict = {}
    final = dedup_increment(spark, corpus.subtract(half1), store, CFG,
                            metrics=metrics)
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(final) == _assignments(batch)
    assert metrics["cc_nodes"] == corpus.count()


def test_incremental_batch_fully_decontaminated(spark, tmp_path):
    """New docs that eval_docs removes entirely still commit a batch:
    the state stays readable, the dropped doc never enters it, and the
    assignment keeps every earlier doc's label."""
    base = " ".join(f"bench{i}" for i in range(60))
    evals = spark.createDataFrame([("e0", base)], "url string, text string")
    clean = [("p_clean1", " ".join(f"doc{i}" for i in range(60))),
             ("p_clean2", " ".join(f"page{i}" for i in range(60)))]
    store = CheckpointStore(spark, str(tmp_path / "inc_decon"), CFG)
    dedup_increment(spark, spark.createDataFrame(clean, "url string, text string"),
                    store, CFG, eval_docs=evals)
    batch = spark.createDataFrame(
        [clean[0], ("p_dirty", base.replace("bench30", "x"))],
        "url string, text string")
    metrics: dict = {}
    out = dedup_increment(spark, batch, store, CFG, metrics=metrics,
                          eval_docs=evals)
    assert _assignments(out) == [("p_clean1", "p_clean1"),
                                 ("p_clean2", "p_clean2")]
    assert metrics["contaminated_dropped"] == 1
    for name in ("docs", "signatures", "edges", "clusters"):
        assert store.status(name) == "ok", name
    assert store.lineage("docs")["rows"] == 2
    assert _assignments(store.read("clusters")) == _assignments(out)


def test_incremental_cc_bounded_by_touched_components(spark, tmp_path):
    """The per-batch CC input must be the TOUCHED components + new
    docs, not the accumulated corpus (VERDICT r1 item 8): batch 2 adds
    documents near-duplicating only a few batch-1 docs, so the re-run
    subgraph must be far smaller than the corpus — while the final
    assignment still equals the one-shot batch run."""
    fx = generate_pages(n_docs=200, seed=23)
    corpus = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA) \
        .localCheckpoint(eager=True)
    store = CheckpointStore(spark, str(tmp_path / "inc3"), CFG)
    first = corpus.limit(180)
    rest = corpus.subtract(first)
    m1: dict = {}
    dedup_increment(spark, first, store, CFG, metrics=m1)
    m2: dict = {}
    final = dedup_increment(spark, rest, store, CFG, metrics=m2)
    n_total = corpus.count()
    n_batch2 = rest.count()
    # batch 1 clusters everything it saw; batch 2 must NOT
    assert m1["cc_nodes"] == 180
    assert m2["cc_nodes"] < n_total / 2, m2
    # every batch-2 doc is in the subgraph, plus only touched components
    assert m2["cc_nodes"] >= n_batch2
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(final) == _assignments(batch)


def test_structured_streaming_drain(spark, corpus, tmp_path):
    """readStream → foreachBatch(dedup_increment) with availableNow:
    drains the drop directory and lands the same assignments."""
    drop = str(tmp_path / "drop")
    corpus.write.mode("overwrite").parquet(drop)
    store = CheckpointStore(spark, str(tmp_path / "state"), CFG)
    q = stream_dedup(spark, drop, store, CFG,
                     stream_checkpoint=str(tmp_path / "sck"))
    q.awaitTermination(300)
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(store.read("clusters")) == _assignments(batch)


def test_incremental_decontaminates_at_ingest(spark, tmp_path):
    """With eval_docs set, a new doc near-matching the eval set is
    dropped BEFORE entering corpus state: absent from the assignment
    AND from the persisted docs table; clean docs are unaffected."""
    base = " ".join(f"bench{i}" for i in range(60))
    evals = spark.createDataFrame([("e0", base)], "url string, text string")
    batch = spark.createDataFrame(
        [
            ("p_dirty", base.replace("bench30", "x")),   # ~0.9 jaccard
            ("p_clean1", " ".join(f"doc{i}" for i in range(60))),
            ("p_clean2", " ".join(f"page{i}" for i in range(60))),
        ],
        "url string, text string")
    store = CheckpointStore(spark, str(tmp_path / "inc5"), CFG)
    metrics: dict = {}
    out = dedup_increment(spark, batch, store, CFG, metrics=metrics,
                          eval_docs=evals)
    urls = {r["url"] for r in out.collect()}
    assert urls == {"p_clean1", "p_clean2"}
    assert metrics["contaminated_dropped"] == 1
    stored = {r["url"] for r in store.read("docs").collect()}
    assert "p_dirty" not in stored


def test_incremental_config_mismatch_fails_loudly(spark, corpus, tmp_path):
    """A store written under a different config/schema version must
    raise, not silently restart state with just the current batch
    (ADVICE r2): raw pages are not retained anywhere, so the silent
    path truncates the accumulated corpus unrecoverably. An explicit
    on_mismatch='reset' opts into the restart."""
    store = CheckpointStore(spark, str(tmp_path / "inc4"), CFG)
    dedup_increment(spark, corpus.limit(40), store, CFG)

    changed = DedupConfig(tau=0.9)
    store2 = CheckpointStore(spark, str(tmp_path / "inc4"), changed)
    assert store2.status("docs") == "mismatch"
    with pytest.raises(RuntimeError, match="accumulated corpus"):
        dedup_increment(spark, corpus.limit(80), store2, changed)
    # old state is untouched by the refused batch
    assert store.status("docs") == "ok"

    # explicit reset: allowed, and state restarts from this batch only
    out = dedup_increment(spark, corpus.limit(80), store2, changed,
                          on_mismatch="reset")
    assert out.count() == 80
    assert store2.status("docs") == "ok"
