"""End-to-end dedup pipeline orchestration (the Spark analogue of the
reference's main build+query program, src/main.cpp:11-230, recast as
the staged dataflow of SURVEY.md §3.4):

  pages ─► rep_map ─► signatures ─► bucket_subgroups ─► pairs ─► edges ─► clusters
               └► substring links (winnowing pairs not in edges) ─────────┘

(the bucket rows between signatures and bucket_subgroups are a lazy
explode of the signatures' `bhashes`, never stored)

Exact duplicates collapse first onto one representative url each
(``rep_map``); every later stage is keyed by the representatives' urls,
the id space of ``dedup_increment`` and of the cluster table, so a
pair, an edge and a cluster_id all name pages directly.

Every stage optionally checkpoints through CheckpointStore (resume =
the reference's cache-or-build ben_create / index save-load, for the
same config and the same input only) and records its row count + wall
time in ``DedupResult.metrics``. Pages follow the pages contract:
``url`` identifies a page, ``text`` is its content."""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators.banding import explode_buckets
from lsh_apg_spark.operators.components import connected_components
from lsh_apg_spark.operators.pairs import (
    bucket_arrays, bucket_stats_from_groups, candidate_pairs,
)
from lsh_apg_spark.operators.signatures import compute_signatures
from lsh_apg_spark.operators.substring import substring_links
from lsh_apg_spark.operators.verify import verify_edges
from lsh_apg_spark.sources.checkpoints import CheckpointStore


@dataclass
class DedupResult:
    pairs: DataFrame          # (a, b) — representative urls, a < b
    edges: DataFrame          # (a, b, jaccard) — representative urls, a < b
    clusters: DataFrame       # (url, cluster_id) — every input url
    metrics: list[dict]


def one_text_per_url(pages: DataFrame) -> DataFrame:
    """(url, text) with one row per url. A url given several rows keeps
    the one with the smallest md5(text), so the choice depends on the
    rows alone, not on their order or partitioning."""
    return pages.groupBy("url").agg(
        F.min_by("text", F.md5(F.col("text").cast("binary"))).alias("text"))


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    include_substring: bool = True,
) -> DedupResult:
    cfg = cfg or DedupConfig()
    store = CheckpointStore(spark, checkpoint_dir, cfg) if checkpoint_dir else None
    metrics: list[dict] = []

    def stage(name: str, builder, meta=None) -> DataFrame:
        t0 = time.monotonic()
        if store is not None:
            resumed = store.exists(name)
            df = store.get_or_create(name, builder, meta)
            rows = store.lineage(name)["rows"]
            row = {"rows": rows, "resumed": resumed,
                   "wall_sec": round(time.monotonic() - t0, 3)}
        else:
            # truncate lineage between shuffle-heavy stages; the row
            # count rides the checkpoint job instead of a count() job
            seen = Observation(f"rows_{name}")
            df = builder().observe(seen, F.count(F.lit(1)).alias("n")) \
                .localCheckpoint(eager=True)
            row = {"rows": seen.get["n"], "resumed": False,
                   "wall_sec": round(time.monotonic() - t0, 3)}
        metrics.append({"stage": name, **row})
        return df

    # the url shuffle gets an explicit partition count, which AQE does
    # not coalesce: it would fold a small corpus into one task, and the
    # signature and substring UDFs downstream would run on one core.
    # The groupBy in one_text_per_url reuses this partitioning.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    all_docs = one_text_per_url(pages.repartition(n, "url"))
    keyed = all_docs.select(
        F.col("url"), F.md5(F.col("text").cast("binary")).alias("_k"))

    # a checkpoint resumes only for the input that produced it: every
    # sidecar records an order-free fingerprint of (url, text), and a
    # stage whose fingerprint differs is rebuilt. A fresh rep_map build
    # observes it on its own write job; resuming costs one input scan.
    # Decimal accumulation: a sum of int64 hashes overflows LongType
    # under ANSI mode.
    fingerprint = F.sum(
        F.xxhash64("url", "_k").cast("decimal(38,0)")).alias("fp")
    fp_seen = Observation("input_fingerprint")
    if store is not None and store.exists("rep_map"):
        store.input_id = str(keyed.agg(fingerprint).first()["fp"])

    # stage 0 — exact-duplicate collapse: identical texts (jaccard 1 >=
    # any tau) are folded onto their min-id representative BEFORE the
    # LSH stages. Web corpora are exact-dup heavy, and identical texts
    # are the worst mega-bucket generators (they collide in EVERY
    # band): collapsing first removes that skew at its source and
    # shrinks all downstream stages; the final expansion join restores
    # every url. Cluster assignments are unchanged — an exact dup
    # always joins its representative's cluster.
    def build_rep_map() -> DataFrame:
        # one scan + one shuffle: window-min over the text hash. The
        # previous groupBy+self-join computed the md5 keying in two
        # plan branches and paid a second shuffle for the join —
        # measured 3-6x slower at 800k docs/local[8] (r4 A/B, outputs
        # identical). Skew note: a window partition group lands on one
        # task (sorter-backed, spills, never OOMs) — linear in the
        # dup-group size over 24-byte rows, fine even for boilerplate
        # pages duplicated 10^7 times; the join form's AQE skew-split
        # is the fallback if a corpus ever breaks that assumption.
        src = keyed.observe(fp_seen, fingerprint) if store is not None \
            else keyed
        return src.select(
            "url",
            F.min("url").over(Window.partitionBy("_k")).alias("_rep"))

    rep_map = stage("rep_map", build_rep_map,
                    meta=lambda: {"input_id": str(fp_seen.get["fp"])})
    if store is not None:
        store.input_id = store.lineage("rep_map")["input_id"]

    # every stage from here on works on the representatives' urls, the
    # same id space as dedup_increment and the final cluster table
    reps = rep_map.filter(F.col("url") == F.col("_rep")).select("url")
    docs = all_docs.join(reps, "url", "left_semi")

    signatures = stage("signatures", lambda: compute_signatures(docs, cfg))
    # the bucket explode is cheap JVM work over the materialized
    # signatures, so it stays lazy (never stored or checkpointed)
    # rather than materializing ~bands*(1+probes) rows per doc; the
    # multi-member survivor set IS materialized, one row per bucket or
    # salted subgroup: it is tiny relative to the explode, and both
    # candidate_pairs and the bucket stats read it
    groups = stage("bucket_subgroups", lambda: bucket_arrays(
        explode_buckets(signatures, cfg), cfg))
    pairs = stage("pairs", lambda: candidate_pairs(groups, cfg))
    edges = stage("edges", lambda: verify_edges(pairs, signatures, cfg))

    sub = None
    if include_substring:
        # only the CC reads these links, so a pair that is already an
        # edge is never verified (a stored table that still holds such
        # pairs builds the same clusters)
        sub = stage("substring_edges", lambda: substring_links(
            docs, cfg, known=edges.select("a", "b")))

    def build_clusters() -> DataFrame:
        e = edges.select("a", "b")
        if sub is not None:
            e = e.unionByName(sub.select("a", "b"))
        # a component's label is its min rep url, and a rep is its
        # exact group's min url, so the label is the min member url
        labels = connected_components(e, nodes=reps) \
            .withColumnRenamed("url", "_rep")
        # expand representative clusters back to every url
        return rep_map.join(labels, "_rep").select("url", "cluster_id")

    # the substring edges change the graph, so a cluster table built
    # with them is a different stage: neither variant resumes the other
    clusters = stage("clusters_substring" if include_substring
                     else "clusters", build_clusters)

    # skew observability: bucket-size distribution into metrics,
    # derived from the small materialized survivor set (the full
    # explode count is docs x bands x (1+probes), known arithmetically)
    n_rep_docs = next(m["rows"] for m in metrics if m["stage"] == "signatures")
    total_bucket_rows = n_rep_docs * cfg.bands * (1 + cfg.num_probes)
    stats = bucket_stats_from_groups(
        groups, cfg, total_bucket_rows).collect()[0].asDict()
    metrics.append({"stage": "bucket_stats", **stats})

    return DedupResult(pairs=pairs, edges=edges, clusters=clusters,
                       metrics=metrics)


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver-provided `documents` table (doc_id, text, lang,
    ...) to the canonical pages shape (input_hint) — deterministic url,
    warc_ts derived from doc_id, html = wrapped text."""
    return docs.select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string"))
         .alias("url"),
        (F.lit("2024-10-08 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.concat(
            F.lit(b"<html><body>"),
            F.encode(F.col("text"), "UTF-8"),
            F.lit(b"</body></html>"),
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
