"""Incremental dedup micro-batches (maps the reference's online insert,
insertLSHRefine src/divGraph.h:471-526, reinterpreted without shared
mutable state — SURVEY.md §2.10).

State is one checkpoint table, one row per url seen so far, like the
reference's one index entry per inserted point:

  docs  (url, cluster_id, shingles, bhashes)

Each reader takes only its columns, and parquet column pruning reads
only those back: the anti-join reads `url`, the probe `bhashes`, verify
`shingles`, the contraction `cluster_id`. Raw pages are not retained.
The bucket rows are not stored: they are the explode of the stored
`bhashes`. Nor are the verified edges: edges are only ever added, so
the stored cluster ids already hold everything a later batch needs
from them.

Every batch, the first one included (a fresh store reads as an empty
table), runs the same steps:

  1. one row per url (pipeline.one_text_per_url), then an anti-join
     against the stored urls (idempotent re-delivery), materialized
     once; its row count rides that same job;
  2. no new doc left (a full re-delivery, or an empty first batch):
     return the stored assignment and write nothing;
  3. signatures for the NEW docs only, materialized once — the only
     run of the signature UDF in the batch; with ``eval_docs``,
     ``decontaminate()`` drops contaminated new docs here, reusing
     those signatures;
  4. candidate pairs over the new bucket rows plus the stored rows of
     the bucket keys a new doc lands in (the reference's per-point
     searchLSH probe); left joins to the stored cluster ids keep the
     pairs with a new endpoint;
  5. verify against the stored plus the new signatures;
  6. one CC over the new docs and the new edges, each endpoint
     contracted to its stored cluster_id (a new doc to itself); the
     stored rows take the label of their old id;
  7. one commit of the one table.

The table only grows by the batch, every step is a pure DataFrame job,
and a batch commits with one table swap, so a failed batch leaves the
previous state readable and just re-runs."""

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

# the one state table's schema, for the empty state of a fresh store
DOCS_SCHEMA = ("url string, cluster_id string, shingles array<bigint>, "
               "bhashes array<bigint>")


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
    graph the batch actually clustered: the new docs plus the stored
    cluster ids its new edges touch, and those edges contracted to the
    ids (not the accumulated corpus) — plus
    contaminated_dropped when ``eval_docs`` is set. All are 0 for a
    batch with no new url, which writes nothing.

    ``eval_docs``: optional held-out reference set (benchmark/eval
    documents). New docs whose shingle-Jaccard with any eval doc
    reaches cfg.tau are DROPPED at ingest by ``decontaminate()`` (the
    signatures computed for insertion are reused, so the check adds
    only the broadcast eval probe), and never enter the corpus state:
    decontamination-at-ingest for a training pipeline.

    A store whose sidecar was written under a DIFFERENT config or
    schema version is an ERROR by default (``on_mismatch="fail"``):
    starting over as a fresh store would overwrite the accumulated
    corpus state with just this batch, and raw pages are not retained
    anywhere to rebuild it — silent truncation, caught loudly instead
    (ADVICE r2). Pass ``on_mismatch="reset"`` to explicitly discard the
    old state (the whole store is emptied) and restart from this
    batch."""
    new_docs = one_text_per_url(new_pages)

    status = store.status("docs")
    if status == "mismatch":
        if on_mismatch != "reset":
            raise RuntimeError(
                f"incremental store at {store.root} holds state written "
                f"under config {store.lineage('docs').get('config_id')!r} "
                f"but the current config is {store.cfg.config_id()!r}; "
                "continuing would silently discard the accumulated corpus. "
                "Re-run with the original config, or pass "
                "on_mismatch='reset' to intentionally restart state from "
                "this batch.")
        store.clear()
    # a fresh store is an empty one: limit(0) makes the frame an empty
    # LocalRelation (OptimizeLimitZero), so Catalyst prunes every join
    # and union against it and a first batch runs no stored-side work
    stored = store.read("docs") if status == "ok" else \
        spark.createDataFrame([], DOCS_SCHEMA).limit(0)
    new_docs = new_docs.join(stored.select("url"), "url", "left_anti")

    # every later step reads the batch's new docs and signatures several
    # times (the state write, the CC, the metrics); each is
    # materialized once, so no write re-runs the anti-join or the
    # signature UDF. The new-doc count rides the materializing job.
    seen = Observation("new_docs")
    new_docs = new_docs.observe(seen, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    n_new = seen.get["n"]
    if n_new == 0:
        # nothing new (a full re-delivery, or an empty first batch):
        # the stored assignment is the answer and nothing is written
        if metrics is not None:
            metrics.update(cc_nodes=0, cc_edges=0)
            if eval_docs is not None:
                metrics["contaminated_dropped"] = 0
        return stored.select("url", "cluster_id")

    new_sigs = compute_signatures(new_docs, cfg).localCheckpoint(eager=True)
    if eval_docs is not None:
        new_docs = decontaminate(new_docs, eval_docs, cfg,
                                 train_signatures=new_sigs)
        new_sigs = new_sigs.join(new_docs.select("url"), "url", "left_semi")
        if metrics is not None:
            metrics["contaminated_dropped"] = n_new - new_docs.count()

    # new docs PROBE the stored bucket keys (the reference's per-point
    # searchLSH insert probe, src/divGraph.h:359-469): only a bucket key
    # that a new doc lands in can mint a new pair, so pair generation
    # runs over the new bucket rows plus that sliver of the stored ones
    new_buckets = explode_buckets(new_sigs, cfg)
    buckets = new_buckets.unionByName(explode_buckets(stored, cfg).join(
        new_buckets.select("bhash"), "bhash", "left_semi"))
    sigs = stored.select(*new_sigs.columns).unionByName(new_sigs)

    # incremental CC over the contracted graph: edges are only ever
    # added, so the components after this batch are the stored ones
    # merged by the new edges. A pair with two stored endpoints is
    # already inside the stored components and is left out. Each
    # endpoint maps to its stored cluster_id, a new doc to itself;
    # every kept edge has a new endpoint, so no contracted edge is a
    # self-loop. A stored id is its component's min url and new urls
    # are unseen, so the CC's min id label still gives cluster_id =
    # min member url.
    def stored_id(end: str) -> DataFrame:
        return stored.select(F.col("url").alias(end),
                             F.col("cluster_id").alias(f"_{end}"))

    pairs = (
        candidate_pairs(buckets, cfg)
        .join(stored_id("a"), "a", "left").join(stored_id("b"), "b", "left")
        .filter(F.col("_a").isNull() | F.col("_b").isNull())
    )
    edges = verify_edges(pairs, sigs, cfg).select(
        F.coalesce("_a", "a").alias("a"), F.coalesce("_b", "b").alias("b"))
    # materialized once, so the batch's pair and verify work runs here
    # and not inside the CC; the edge count rides the same job
    graph = Observation("cc_edges")
    edges = edges.observe(graph, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    labels = connected_components(edges, nodes=new_docs.select("url"))
    if metrics is not None:
        metrics["cc_nodes"] = labels.count()
        metrics["cc_edges"] = graph.get["n"]
    # a stored row takes its old id's new label (the CC output is the
    # small contracted graph, so it broadcasts)
    remap = labels.select(F.col("url").alias("cluster_id"),
                          F.col("cluster_id").alias("_to"))
    cols = ["url", "cluster_id", "shingles", "bhashes"]
    rows = stored.join(F.broadcast(remap), "cluster_id", "left") \
        .withColumn("cluster_id", F.coalesce("_to", "cluster_id")) \
        .select(cols).unionByName(new_sigs.join(labels, "url").select(cols))

    # the new table's plan still lazily READS the stored one, so the
    # store writes it to a tmp dir while the old files are on disk and
    # only then swaps the path: a failed write leaves the old table
    return store.write(rows, "docs").select("url", "cluster_id")


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
