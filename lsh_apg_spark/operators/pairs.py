"""Stage 3 — candidate pair generation with hot-bucket skew defusal
(maps J1 hash-bucket equi-probe, src/e2lsh.cpp:131-200, and the
candidate cap lshUB, src/divGraph.h:369-370,934-937).

Shape chosen for 10^12-row scale: the bucket "hash table" is built with
ONE wide shuffle (window count over the (id, key) rows; the
singleton majority is discarded there, and collect_list runs
partition-local over the survivors only), and pair expansion is
ROW-LOCAL (a double `explode` of each bucket's member array — no
self-join anywhere). Skew policy (the north_rule's explicit hot-bucket
handling):

* buckets with <= bucket_cap members: all-pairs within the row
  (bounded at cap^2 output rows per bucket);
* larger buckets are SALTED into subgroups of expected size
  salt_subgroup via a deterministic hash of the doc id; all-pairs run
  within each subgroup, and subgroups re-connect through a STAR onto
  the bucket-min representative, so a capped bucket still resolves
  into one component transitively via CC — candidate volume drops from
  O(n^2) to O(n*cap) without silently losing connectivity, and the
  star keeps the bucket graph at diameter 2 so CC rounds stay O(log n).
  The salt modulus rounds the subgroup count up to a power of two: a
  hot document set lands in ~every band with slightly different bucket
  sizes, and a size-exact modulus would partition it differently per
  band — multiplying the emitted pair set by the band count before
  dropDuplicates could collapse it.

Nothing here depends on row order or partitioning: the emitted pair
SET is deterministic (unlike the reference's clock-seeded insertion
shuffle, src/divGraph.h:784-786)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions.hashing import canonical_pair

BUCKET_KEY = ["bhash"]


def nonsingleton_buckets(buckets: DataFrame) -> DataFrame:
    """(id, bhash) -> same rows + `_n` bucket size, with singleton
    buckets removed. One wide shuffle (the window's sorted count over
    the bucket rows). Measured alternatives both lose: collect_list over
    every key pays object churn on the singleton majority (2-3x), and
    a count-aggregate + filter + join back over the explode pays a
    second full scan plus a join that costs more than the sort saves
    (1.8x). Only the survivors (a sliver) ever become arrays."""
    w_bucket = Window.partitionBy(*BUCKET_KEY)
    return (
        buckets.withColumn("_n", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_n") >= 2)
    )


def bucket_arrays(buckets: DataFrame, cfg: DedupConfig,
                  id_col: str = "url") -> DataFrame:
    """(id, bhash) -> (bhash, ids, _n) with singleton buckets removed.

    collect_list aggregates ONLY the multi-member survivor rows. The
    caller should MATERIALIZE this survivor set (the pipeline
    checkpoints it): it is small, and candidate_pairs + skew stats both
    read it. ``cfg`` is unused; it keeps the (frame, cfg, id_col) shape
    every stage operator has."""
    return (
        nonsingleton_buckets(buckets).groupBy(*BUCKET_KEY)
        .agg(F.collect_list(id_col).alias("ids"))
        .withColumn("_n", F.size("ids"))
    )


def _explode_pairs(arrays: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Row-local all-pairs: two nested explodes of the member array —
    runs inside whole-stage codegen, no join, no shuffle."""
    return (
        arrays.select(F.explode(ids_col).alias("_ida"), ids_col)
        .select("_ida", F.explode(ids_col).alias("_idb"))
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("a"), F.col("_idb").alias("b"))
    )


def candidate_pairs(arrays: DataFrame, cfg: DedupConfig,
                    id_col: str = "url") -> DataFrame:
    """bucket_arrays output (or raw bucket rows, detected by the
    absence of an `ids` column) -> distinct candidate (a, b), a < b."""
    if "ids" not in arrays.columns:
        arrays = bucket_arrays(arrays, cfg, id_col=id_col)
    cap = cfg.bucket_cap

    small_pairs = _explode_pairs(arrays.filter(F.col("_n") <= cap))

    # hot buckets: back to rows, deterministic pow-2 salt, re-group per
    # subgroup (a tiny second shuffle — hot rows are a sliver of the
    # corpus), row-local pairs within each subgroup
    n_subgroups = F.pow(
        F.lit(2.0),
        F.ceil(F.log2(F.ceil(F.col("_n") / cfg.salt_subgroup)))
    ).cast("long")
    big_rows = (
        arrays.filter(F.col("_n") > cap)
        .select(*BUCKET_KEY, "_n", F.explode("ids").alias(id_col))
        .withColumn("salt", F.pmod(F.xxhash64(F.col(id_col), F.lit("pair-salt")),
                                   n_subgroups))
    )
    subgroups = (
        big_rows.groupBy(*BUCKET_KEY, "salt")
        .agg(F.collect_list(id_col).alias("ids"))
    )
    big_pairs = _explode_pairs(subgroups)

    # star re-connection of subgroups through the bucket-min rep
    reps = subgroups.select(*BUCKET_KEY, "salt",
                            F.array_min("ids").alias("rep"))
    rep_star = (
        reps.groupBy(*BUCKET_KEY).agg(
            F.min("rep").alias("root"),
            F.collect_list("rep").alias("all_reps"))
        .select(F.col("root").alias("a"),
                F.explode("all_reps").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )

    pa, pb = canonical_pair("a", "b")
    return (
        small_pairs.unionByName(big_pairs).unionByName(rep_star)
        .select(pa.alias("a"), pb.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def bucket_stats_from_groups(groups: DataFrame, cfg: DedupConfig,
                             total_bucket_rows: int) -> DataFrame:
    """Skew observability (maps graph statistics showInfo,
    src/divGraph.h:1148-1231) from the (materialized, small)
    bucket_arrays output plus the known explode row count — singleton
    counts follow arithmetically: every bucket row not in a
    multi-member bucket is its own bucket. Logged to the metrics sink
    every run — capped volume is never silently dropped."""
    agg = groups.agg(
        F.count(F.lit(1)).alias("_multi"),
        F.sum("_n").alias("_multi_rows"),
        F.max("_n").alias("max_bucket"),
        F.sum((F.col("_n") > cfg.bucket_cap).cast("long"))
         .alias("salted_buckets"),
        F.sum(F.when(F.col("_n") > cfg.bucket_cap, F.col("_n")).otherwise(0))
         .alias("salted_rows"),
    )
    singletons = F.lit(total_bucket_rows) - F.coalesce(F.col("_multi_rows"),
                                                      F.lit(0))
    num_buckets = singletons + F.coalesce(F.col("_multi"), F.lit(0))
    return agg.select(
        num_buckets.alias("num_buckets"),
        F.coalesce("max_bucket", F.lit(1)).alias("max_bucket"),
        F.try_divide(F.lit(total_bucket_rows), num_buckets)
         .alias("avg_bucket"),
        F.coalesce("salted_buckets", F.lit(0)).alias("salted_buckets"),
        F.coalesce("salted_rows", F.lit(0)).alias("salted_rows"),
    )
