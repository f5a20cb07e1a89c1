"""The traced run: the dedup dataflow composed from the engine's public
operators, each materialized inside its own span, plus span wrappers
around the layers `dedup_increment` calls.

`traced_dedup` mirrors `pipeline.run_dedup` (no checkpoint store,
intermediates materialized). The benchmark asserts that its cluster
table equals `run_dedup`'s on the same input, so the two cannot drift
apart silently."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions.minhash import make_lcs_udf
from lsh_apg_spark.operators.banding import explode_buckets
from lsh_apg_spark.operators.components import connected_components
from lsh_apg_spark.operators.pairs import (
    bucket_arrays, bucket_stats_from_groups, candidate_pairs,
)
from lsh_apg_spark.operators.signatures import compute_signatures
from lsh_apg_spark.operators.substring import winnow_buckets
from lsh_apg_spark.operators.verify import verify_edges
from lsh_apg_spark.sources.checkpoints import CheckpointStore
from lsh_apg_spark.streaming import incremental

from spans import Tracer


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def traced_dedup(tracer: Tracer, pages: DataFrame, cfg: DedupConfig,
                 include_substring: bool) -> DataFrame:
    """-> clusters (url, cluster_id). Row counts land on the spans,
    keyed by per-layer metric name."""
    all_docs = pages.select("url", "text")

    with tracer.span("pipeline", "rep_map"):
        keyed = all_docs.select(
            "url", F.md5(F.col("text").cast("binary")).alias("_k"))
        rep_map, _ = _materialize(keyed.select(
            "url", F.min("url").over(Window.partitionBy("_k")).alias("_rep")))
        id_map = rep_map.filter(F.col("url") == F.col("_rep")).select(
            "url", F.xxhash64(F.col("url"), F.lit(17)).alias("_nid"))
        docs = id_map.join(all_docs, "url").select(
            F.col("_nid").alias("nid"), "text")

    with tracer.span("signatures", "compute_signatures") as sp:
        sigs, n_docs = _materialize(compute_signatures(docs, cfg, id_col="nid"))
        sp.rows.update({"signatures.docs": n_docs, "rep_map.docs_out": n_docs})

    with tracer.span("pairs", "bucket_groups") as sp:
        groups, _ = _materialize(bucket_arrays(
            explode_buckets(sigs, cfg, id_col="nid"), cfg, id_col="nid"))
        stats = bucket_stats_from_groups(
            groups, cfg, n_docs * cfg.bands * (1 + cfg.num_probes)).collect()[0]
        sp.rows.update({"pairs.max_bucket": stats["max_bucket"],
                        "pairs.salted_rows": stats["salted_rows"]})
    with tracer.span("pairs", "candidate_pairs") as sp:
        pairs, n_pairs = _materialize(candidate_pairs(groups, cfg, id_col="nid"))
        sp.rows["pairs.rows"] = n_pairs

    with tracer.span("verify", "verify_edges") as sp:
        edges, n_edges = _materialize(verify_edges(pairs, sigs, cfg, id_col="nid"))
        sp.rows.update({"verify.pairs_in": n_pairs, "verify.edges_out": n_edges})

    e = edges.select("a", "b")
    if include_substring:
        # substring_edges, split so its candidate count is observable
        with tracer.span("substring", "winnow_candidates") as sp:
            cands, sp.rows["substring.candidates"] = _materialize(
                candidate_pairs(winnow_buckets(docs, cfg, id_col="nid"), cfg,
                                id_col="nid"))
        with tracer.span("substring", "lcs_verify") as sp:
            lcs = make_lcs_udf()
            sub, sp.rows["substring.edges"] = _materialize(
                cands.join(docs.select(F.col("nid").alias("a"),
                                       F.col("text").alias("_ta")), "a")
                .join(docs.select(F.col("nid").alias("b"),
                                  F.col("text").alias("_tb")), "b")
                .withColumn("lcs_len", lcs("_ta", "_tb"))
                .filter(F.col("lcs_len") >= cfg.min_substring_len)
                .select("a", "b", "lcs_len"))
        e = e.unionByName(sub.select("a", "b"))

    with tracer.span("components", "connected_components") as sp:
        e, sp.rows["cc.edges_in"] = _materialize(e)
        nid_clusters, sp.rows["cc.nodes"] = _materialize(
            connected_components(e, nodes=docs.select("nid"), id_col="nid"))

    with tracer.span("pipeline", "expand_clusters"):
        members = nid_clusters.withColumnRenamed("cluster_id", "_lab") \
            .withColumnRenamed("nid", "_nid").join(id_map, "_nid")
        rep_clusters = members.select(
            F.col("url").alias("_rep"),
            F.min("url").over(Window.partitionBy("_lab")).alias("cluster_id"))
        clusters, _ = _materialize(
            rep_map.join(rep_clusters, "_rep").select("url", "cluster_id"))
    return clusters


def _wrapped(tracer: Tracer, layer: str, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(layer, name):
            return fn(*args, **kwargs)
    return call


@contextmanager
def traced_increment_layers(tracer: Tracer):
    """Spans around the eager layers `dedup_increment` calls into:
    checkpoint writes and reads, and the connected-components loop.
    Its signature, pair and verify plans are lazy and run inside those
    calls (mostly inside CheckpointStore.write_many)."""
    patches = [
        (CheckpointStore, "write_many", "checkpoints", "write_many"),
        (CheckpointStore, "read", "checkpoints", "read"),
        (incremental, "connected_components", "components",
         "connected_components"),
    ]
    saved = [(owner, attr, getattr(owner, attr))
             for owner, attr, _, _ in patches]
    try:
        for owner, attr, layer, name in patches:
            setattr(owner, attr,
                    _wrapped(tracer, layer, name, getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
