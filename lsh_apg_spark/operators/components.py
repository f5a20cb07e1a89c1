"""Stage 5 — connected components over the verified edge list (maps A6:
traverse()/connectivity() BFS labeling, src/divGraph.h:1233-1333).

Iterative hash-partitioned min-label propagation with pointer jumping:

  label(v) <- min(label(v), min over neighbors u of label(u))   [prop]
  label(v) <- label(label(v))                                   [jump]

Propagation alone converges in O(diameter) rounds; the jump step
short-circuits chains (the salted-bucket rep chains are the worst
case) giving O(log n) rounds. Each round is two shuffles; each round's
result is localCheckpoint()-ed to truncate lineage — the in-sandbox
analogue of the per-iteration Iceberg checkpoint used at prod scale.

Labels are the document ids themselves (min url wins), so the final
cluster_id = min member id — deterministic and order-independent, the
tie-break SURVEY.md §7.4 demands."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "url",
    max_iter: int = 50,
) -> DataFrame:
    """edges(a, b) [+ nodes(id)] -> (id_col, cluster_id).

    ``nodes`` supplies singleton documents (no edges) so every doc gets
    an assignment; if omitted, only endpoint docs are labeled.
    """
    # NB: AQE stays ON here — measured: its partition coalescing on the
    # loop's tiny 16-byte-row shuffles outweighs its per-round replan
    # cost (AQE-off was 2x slower at 16 cores).
    e = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    # undirected: propagate both ways
    und = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))

    # only edge ENDPOINTS participate in the iteration — at web scale
    # the overwhelming majority of documents touch no candidate pair
    # and their label is trivially themselves; keeping them out of the
    # loop shrinks every per-iteration shuffle to the dup-graph size
    endpoints = und.select(F.col("src").alias("id")).distinct()

    labels = endpoints.select("id", F.col("id").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    und = und.localCheckpoint(eager=True)

    # convergence via a checksum OBSERVED on the checkpoint job itself:
    # labels only ever decrease (min-propagation is monotone), so an
    # unchanged hash-sum means a fixpoint. Observation rides the same
    # job that materializes the round's localCheckpoint — ONE Spark job
    # per round instead of checkpoint-job + checksum-job (the CC loop
    # is latency-bound: serial rounds of small shuffles, so job count
    # is the cost that neither data size nor cores amortize).
    # decimal accumulation: a sum of int64 hashes overflows LongType
    # under ANSI mode.
    chk = F.sum(F.xxhash64("id", "label").cast("decimal(38,0)")).alias("s")
    prev = labels.agg(chk).collect()[0]["s"]
    for it in range(max_iter):
        # prop: min label among self + neighbors
        nbr = (
            und.join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "label")
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("id").agg(F.min("label").alias("label"))
        )
        # jump: label <- label(label); labels are node ids so the
        # lookup table is `labels` itself
        lut = new.select(F.col("id").alias("label"),
                         F.col("label").alias("_label2"))
        new = (
            new.join(lut, "label", "left")
            .select("id", F.least("label", "_label2").alias("label"))
        )
        obs = Observation(f"cc_round_{it}")
        new = new.observe(obs, chk)
        # eager checkpoint doubles as the round's action (truncates
        # lineage AND materializes the observed checksum)
        labels = new.localCheckpoint(eager=True)
        cur = obs.get["s"]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} iters")

    if nodes is not None:
        singles = (
            nodes.select(F.col(id_col).alias("id"))
            .join(endpoints, "id", "left_anti")
            .select("id", F.col("id").alias("label"))
        )
        labels = labels.unionByName(singles)

    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
