"""Incremental dedup micro-batches (maps the reference's online insert,
insertLSHRefine src/divGraph.h:471-526, reinterpreted without shared
mutable state — SURVEY.md §2.10).

State is three checkpoint tables, each holding only what a later batch
reads:

  docs        (url)                       the ledger of urls seen so far
  signatures  (url, shingles, bhashes)    the probe index and verify input
  clusters    (url, cluster_id)           the current assignment

Raw pages are not retained. The bucket rows are not stored either:
they are the explode of the stored signatures' `bhashes`, and parquet
column pruning reads only that column back. Nor are the verified
edges: edges are only ever added, so the stored clusters already hold
everything a later batch needs from them, and a store without
clusters recomputes them from the stored signatures.

Per batch of new pages:

  1. one row per url (pipeline.one_text_per_url), then an anti-join
     against the docs ledger (idempotent re-delivery), materialized
     once; its row count rides that same job;
  2. no new doc left (a full re-delivery): return the stored cluster
     table and write nothing;
  3. signatures for the NEW docs only, materialized once — the only
     run of the signature UDF in the batch; with ``eval_docs``,
     ``decontaminate()`` drops contaminated new docs here, reusing
     those signatures;
  4. candidate pairs = new-vs-all equi-join on bucket keys (the new
     docs probe the existing 'hash table', exactly like the
     reference's per-point searchLSH probe) + new-vs-new pairs;
  5. verify against the union signatures;
  6. one CC over the stored components contracted to their ids: each
     new edge's endpoints map to their stored cluster_id (a new doc to
     itself), the contracted edges are materialized once, the new docs
     are the nodes, and the stored rows take the label of their old
     id. A store without clusters (a cold start, or the recovery path)
     instead pairs and verifies every stored signature and runs the CC
     over every doc. Then one commit of the three tables.

Every table only grows by the batch, and every step is a pure
DataFrame job, so a crashed batch just re-runs."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators.banding import explode_buckets
from lsh_apg_spark.operators.components import connected_components
from lsh_apg_spark.operators.decontaminate import decontaminate
from lsh_apg_spark.operators.pairs import candidate_pairs
from lsh_apg_spark.operators.signatures import compute_signatures
from lsh_apg_spark.operators.verify import verify_edges
from lsh_apg_spark.pipeline import one_text_per_url
from lsh_apg_spark.sources.checkpoints import CheckpointStore


def dedup_increment(
    spark: SparkSession,
    new_pages: DataFrame,
    store: CheckpointStore,
    cfg: DedupConfig,
    metrics: dict | None = None,
    on_mismatch: str = "fail",
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Process one batch of new pages (``url``, ``text``); returns the
    refreshed (url, cluster_id) assignment over the whole corpus so far.

    A url given several rows keeps the one with the smallest
    ``md5(text)``, as in ``run_dedup``. A url that an earlier batch
    already ingested keeps its first text: a later text under it is
    ignored.

    ``metrics``, if given, receives cc_nodes/cc_edges — the size of the
    graph the batch actually clustered: on a warm batch the new docs
    plus the stored cluster ids its new edges touch, and those edges
    contracted to the ids (not the accumulated corpus) — plus
    contaminated_dropped when ``eval_docs`` is set. All are 0 for a
    batch with no new url, which writes nothing.

    ``eval_docs``: optional held-out reference set (benchmark/eval
    documents). New docs whose shingle-Jaccard with any eval doc
    reaches cfg.tau are DROPPED at ingest by ``decontaminate()`` (the
    signatures computed for insertion are reused, so the check adds
    only the broadcast eval probe), and never enter the corpus state:
    decontamination-at-ingest for a training pipeline.

    A store whose sidecars were written under a DIFFERENT config or
    schema version is an ERROR by default (``on_mismatch="fail"``):
    the cold-start path would overwrite the accumulated corpus state
    with just this batch, and raw pages are not retained anywhere to
    rebuild it — silent truncation, caught loudly instead (ADVICE r2).
    Pass ``on_mismatch="reset"`` to explicitly discard the old state
    and restart from this batch."""
    new_docs = one_text_per_url(new_pages)

    state_status = store.status("docs")
    if state_status == "mismatch":
        if on_mismatch != "reset":
            raise RuntimeError(
                f"incremental store at {store.root} holds state written "
                f"under config {store.lineage('docs').get('config_id')!r} "
                f"but the current config is {store.cfg.config_id()!r}; "
                "continuing would silently discard the accumulated corpus. "
                "Re-run with the original config, or pass "
                "on_mismatch='reset' to intentionally restart state from "
                "this batch.")
        for stage in ("docs", "signatures", "clusters"):
            store.invalidate(stage)
    have_state = store.exists("docs")
    have_clusters = have_state and store.exists("clusters")

    def grown(name: str, new: DataFrame) -> DataFrame:
        """The stored table plus this batch's rows (disjoint: the batch
        holds only unseen urls), or just the batch on a cold start."""
        return store.read(name).unionByName(new) if have_state else new

    if have_state:
        new_docs = new_docs.join(store.read("docs"), "url", "left_anti")

    # every later step reads the batch's new docs and signatures several
    # times (the state writes, the CC, the metrics); each is
    # materialized once, so no write re-runs the anti-join or the
    # signature UDF. The new-doc count rides the materializing job.
    seen = Observation("new_docs")
    new_docs = new_docs.observe(seen, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    n_new = seen.get["n"]
    if n_new == 0 and have_clusters:
        # full re-delivery: every url is already in the state, so the
        # stored assignment is the answer and nothing is rewritten
        if metrics is not None:
            metrics.update(cc_nodes=0, cc_edges=0)
            if eval_docs is not None:
                metrics["contaminated_dropped"] = 0
        return store.read("clusters")

    new_sigs = compute_signatures(new_docs, cfg).localCheckpoint(eager=True)
    if eval_docs is not None:
        new_docs = decontaminate(new_docs, eval_docs, cfg,
                                 train_signatures=new_sigs)
        new_sigs = new_sigs.join(new_docs.select("url"), "url", "left_semi")
        if metrics is not None:
            metrics["contaminated_dropped"] = n_new - new_docs.count()

    new_ids = new_docs.select("url")
    docs = grown("docs", new_ids)
    sigs = grown("signatures", new_sigs)
    if have_clusters:
        # warm batch: new docs PROBE the existing bucket state (the
        # reference's per-point searchLSH insert probe,
        # src/divGraph.h:359-469): only bucket keys that a new doc
        # lands in can mint a new pair, so pair generation runs over
        # that sliver of the bucket table, and keeps the pairs with a
        # new endpoint
        touched_keys = explode_buckets(new_sigs, cfg).select("bhash") \
            .distinct()
        cands = candidate_pairs(explode_buckets(sigs, cfg).join(
            touched_keys, ["bhash"], "left_semi"), cfg)
        pairs = cands.join(new_ids.withColumnRenamed("url", "a"), "a",
                           "left_semi").unionByName(
            cands.join(new_ids.withColumnRenamed("url", "b"), "b",
                       "left_semi")).dropDuplicates(["a", "b"])
    else:
        pairs = candidate_pairs(explode_buckets(sigs, cfg), cfg)
    edges = verify_edges(pairs, sigs, cfg).select("a", "b")

    # incremental CC over the contracted graph: edges are only ever
    # added, so the components after this batch are the stored ones
    # merged by the new edges. Each endpoint maps to its stored
    # cluster_id, a new doc to itself; every new edge has a new
    # endpoint, so no contracted edge is a self-loop. A stored id is
    # its component's min url and new urls are unseen, so the CC's
    # min id label still gives cluster_id = min member url.
    nodes = docs
    if have_clusters:
        stored = store.read("clusters")

        def stored_id(end: str) -> DataFrame:
            return stored.select(F.col("url").alias(end),
                                 F.col("cluster_id").alias(f"_{end}"))

        edges = (
            edges.join(stored_id("a"), "a", "left")
            .join(stored_id("b"), "b", "left")
            .select(F.coalesce("_a", "a").alias("a"),
                    F.coalesce("_b", "b").alias("b"))
        )
        nodes = new_ids
    # materialized once, so the batch's pair and verify work runs here
    # and not inside the CC; the edge count rides the same job
    graph = Observation("cc_edges")
    edges = edges.observe(graph, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    labels = connected_components(edges, nodes=nodes)
    if metrics is not None:
        metrics["cc_nodes"] = labels.count()
        metrics["cc_edges"] = graph.get["n"]
    clusters = labels
    if have_clusters:
        # a stored row takes its old id's new label (the CC output is
        # the small contracted graph, so it broadcasts); the new docs'
        # rows come straight from the CC
        remap = labels.select(F.col("url").alias("cluster_id"),
                              F.col("cluster_id").alias("_to"))
        clusters = (
            stored.join(F.broadcast(remap), "cluster_id", "left")
            .select("url", F.coalesce("_to", "cluster_id").alias("cluster_id"))
            .unionByName(labels.join(new_ids, "url", "left_semi"))
        )

    # persist refreshed state: two-phase write_many, because every one
    # of these plans still lazily READS the previous checkpoints —
    # swapping paths one at a time would pull files out from under the
    # later writes (see CheckpointStore.write_many)
    return store.write_many({"docs": docs, "signatures": sigs,
                             "clusters": clusters})["clusters"]


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    store: CheckpointStore,
    cfg: DedupConfig,
    stream_checkpoint: str,
    schema: str = ("url string, warc_ts timestamp, html binary, "
                   "text string, lang string"),
):
    """Structured Streaming wrapper: watch a directory of parquet page
    drops, run dedup_increment per micro-batch. Trigger availableNow
    drains what's there and stops (test/backfill mode); drop the
    trigger for continuous ingestion."""
    src = spark.readStream.schema(schema).parquet(input_path)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_increment(spark, batch_df, store, cfg)

    return (
        src.writeStream
        .foreachBatch(on_batch)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )
