"""Stage 5 — connected components over the verified edge list (maps A6:
traverse()/connectivity() labeling, src/divGraph.h:1233-1333).

A partition-local union-find contraction. The reference labels the
unions in one process and then closes over the union graph; BTS:
Load-Balanced Distributed Union-Find (ICDE'24) does the same at
distributed scale: union locally, then resolve only the boundary.

  1. every edge goes to the hash partitions of both its endpoints, so
     a partition holds all the edges of the ids hashed to it;
  2. one mapInPandas pass runs a vectorized numpy union-find over the
     edges of its partition and emits (id, root), root = the min id of
     the id's local component; materialized once;
  3. a single partition saw every edge, so its labels are final. At
     small sizes AQE coalesces the whole graph into one task and the
     CC is this one shuffle: two Spark jobs;
  4. otherwise an id seen by several partitions has a local root in
     each. Its min root is its label, and the boundary graph joins that
     min root to each other root. With no boundary edge the labels are
     final; else the boundary graph is solved the same way, and every
     id takes the label of its min root.

Why partition-local: at dedup sizes the cost is Spark job count, not
data volume. A min-label loop pays a join, an aggregate and a pointer
jump per round, each its own job, for O(log n) rounds; one union-find
per partition does the same work in one task. Why both endpoints: a
partition then unions each of its ids with the neighbours of its
neighbours, so the boundary of a chain halves per level. Sent to one
endpoint's partition only, adjacent chain edges share a partition
with chance 1/partitions, and the boundary barely shrinks.

Labels are the ids themselves: cluster_id = min member id, the
deterministic tie-break SURVEY.md §7.4 demands. Python orders str by
code point, as Spark orders strings by their UTF-8 bytes, so the local
min of string ids is Spark's min too."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# the depth no real graph reaches: a level's boundary joins ids two
# hops apart, so even a chain halves per level
MAX_DEPTH = 32


def local_roots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(a, b) edges of one partition -> (id, root) for every endpoint,
    root = min id of its component among these edges."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return
    e = pd.concat(parts, ignore_index=True)
    ids, idx = np.unique(np.concatenate([e["a"].to_numpy(), e["b"].to_numpy()]),
                         return_inverse=True)
    u, v = idx[:len(e)], idx[len(e):]
    # ids are sorted, so an index order is the id order; parent[x] <= x
    # and points into x's component, so a root is its component's min
    parent = np.arange(len(ids))
    while True:
        # hook: the larger root of every edge under the smaller one
        pu, pv = parent[u], parent[v]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        # jump until every id points at a root
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
        if np.array_equal(parent[u], parent[v]):
            break
    yield pd.DataFrame({"id": ids, "root": ids[parent]})


def _labels(edges: DataFrame, depth: int) -> tuple[DataFrame, int]:
    """Edges (a, b) -> ((id, root), the local pass's row count); root =
    min id of the component, for every endpoint."""
    if depth > MAX_DEPTH:
        raise RuntimeError(
            f"connected_components: boundary not closed at depth {MAX_DEPTH}")
    t = edges.schema["a"].dataType
    # every edge goes to the partitions of both its endpoints, so a
    # partition sees all the edges of the ids hashed to it; no
    # partition count, so AQE coalesces a small graph into one task
    spread = edges.select("a", "b", F.explode(F.array("a", "b")).alias("k")) \
        .repartition("k")
    seen = Observation(f"cc_ids_{depth}")
    local = spread.mapInPandas(local_roots, StructType(
        [StructField("id", t), StructField("root", t)])) \
        .observe(seen, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    rows = seen.get["n"]
    if rows == 0 or local.rdd.getNumPartitions() == 1:
        return local, rows

    # an id's local roots across partitions: the min is its label
    # until the boundary graph (min root, each other root) is closed
    per_id = local.groupBy("id").agg(F.min("root").alias("root"),
                                     F.collect_set("root").alias("roots"))
    cross = Observation(f"cc_boundary_{depth}")
    per_id = per_id.observe(
        cross, F.sum(F.size("roots") - 1).alias("n")) \
        .localCheckpoint(eager=True)
    labels = per_id.select("id", "root")
    if cross.get["n"] == 0:
        return labels, rows
    boundary = per_id.select(F.col("root").alias("a"),
                             F.explode("roots").alias("b")) \
        .filter(F.col("a") != F.col("b"))
    closed = _labels(boundary, depth + 1)[0].select(
        F.col("id").alias("root"), F.col("root").alias("_label"))
    return labels.join(closed, "root", "left").select(
        "id", F.coalesce("_label", "root").alias("root")), rows


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "url",
) -> DataFrame:
    """edges(a, b) [+ nodes(id)] -> (id_col, cluster_id).

    ``nodes`` supplies singleton documents (no edges) so every doc gets
    an assignment; if omitted, only endpoint docs are labeled. The id
    type is the edges' own (url strings in the engine).
    """
    labels, rows = _labels(edges.select("a", "b"), 0)
    if nodes is not None:
        singles = nodes.select(F.col(id_col).alias("id"))
        if rows:
            singles = singles.join(labels, "id", "left_anti")
        labels = labels.unionByName(
            singles.select("id", F.col("id").alias("root")))
    return labels.select(F.col("id").alias(id_col),
                         F.col("root").alias("cluster_id"))
