"""SparkSession factory tuned for the dedup pipeline.

Local-mode defaults fit the host: local[SPARK_GRAFT_CPUS] (else one
thread per core) and a driver heap of half the host memory, capped at
16g; on a real cluster the same settings apply except master/memory
come from spark-submit. AQE is on so hot LSH buckets that survive our
explicit caps are further split at runtime (skew-join splitting)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of MemTotal, capped at 16g: a local-mode heap larger than
    the host lets the kernel OOM-kill the JVM instead of Spark
    spilling."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16 * 1024, kib // 2 // 1024))}m"


def get_spark(
    app_name: str = "lsh_apg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] (or local[N,F], F = task retries) → N shuffle
        # partitions; a real cluster sets this to 2-3x total cores via
        # spark-submit --conf.
        n = (master[master.find("[") + 1:master.find("]")].split(",")[0]
             if "[" in master else "32")
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g, not bigger: an oversized local-mode heap makes G1 young
        # collections dominate (measured 1.6x end-to-end slowdown at
        # 48g vs 16g on the 400k-doc job — cache-hostile giant young
        # gen). Cluster executors size their own heaps via spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the banding stage hash-aggregates collect_list over millions
        # of mostly-singleton bucket keys; the default fallback
        # threshold (128 in-memory groups) would silently turn that
        # into a sort-based aggregation — the exact sort the hash-agg
        # design avoids
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "4000000")
        # the verify stage joins candidate pairs against wide
        # array-carrying signature rows: sort-merge pays a sort of the
        # wide rows on both sides, shuffled-hash builds a map on the
        # (slim) pair side instead — measurably faster for every join
        # in this pipeline, and AQE still falls back/split-handles skew
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    # shuffle/spill scratch on tmpfs when available: local-mode stand-in
    # for cluster NVMe shuffle volumes, and it keeps benchmark numbers
    # from being dominated by virtualized-disk variance. Gated on free
    # space (tmpfs spill consumes RAM): a /dev/shm with <16 GiB free
    # falls back to Spark's default disk scratch instead of risking
    # memory exhaustion through the page cache.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    parent = os.path.dirname(shm) or "/"
    if os.path.isdir(parent):
        try:
            st = os.statvfs(parent)
            free_gib = st.f_bavail * st.f_frsize / (1 << 30)
        except OSError:
            free_gib = 0.0
        if not shm.startswith("/dev/shm") or free_gib >= 16:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
