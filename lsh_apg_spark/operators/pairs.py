"""Stage 3 — candidate pair generation with hot-bucket skew defusal
(maps J1 hash-bucket equi-probe, src/e2lsh.cpp:131-200, and the
candidate cap lshUB, src/divGraph.h:369-370,934-937).

Shape chosen for 10^12-row scale: the bucket "hash table" is built with
ONE wide shuffle (a window over the (id, key) rows by key gives each
row its bucket size and bucket-min id; the singleton majority is
discarded there, and collect_list runs partition-local over the
survivors only), and pair expansion is ROW-LOCAL (a double `explode`
of each row's member array — no self-join anywhere), so the only other
shuffle is the one that drops duplicate pairs. Skew policy (the
north_rule's explicit hot-bucket handling):

* buckets with <= bucket_cap members form one row and yield all their
  pairs (bounded at cap^2 output rows per bucket);
* larger buckets are SALTED into subgroups of expected size
  salt_subgroup via a deterministic hash of the doc id, one row per
  subgroup; all-pairs run within each row, and each row also emits
  the STAR pair (bucket-min id, row-min id), so a capped bucket still
  resolves into one component transitively via CC — candidate volume
  drops from O(n^2) to O(n*cap) without silently losing connectivity.
  The salt modulus rounds the subgroup count up to a power of two: a
  hot document set lands in ~every band with slightly different bucket
  sizes, and a size-exact modulus would partition it differently per
  band — multiplying the emitted pair set by the band count before
  the dedup could collapse it.

Nothing here depends on row order or partitioning: the emitted pair
SET is deterministic (unlike the reference's clock-seeded insertion
shuffle, src/divGraph.h:784-786)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig

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
    """(id, bhash) -> (bhash, salt, _n, _root, ids): one row per bucket
    of 2..bucket_cap members (salt 0), one row per salted subgroup of a
    larger bucket. `_n` is the whole bucket's size and `_root` its min
    id on every row of the bucket.

    One window by `bhash` (nonsingleton_buckets' measured form)
    computes both, and the grouping key extends its partitioning, so
    the groupBy adds no exchange. The caller should MATERIALIZE this
    survivor set (the pipeline checkpoints it): it is small, and
    candidate_pairs + skew stats both read it."""
    w_bucket = Window.partitionBy(*BUCKET_KEY)
    n = F.col("_n")
    n_subgroups = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.ceil(n / cfg.salt_subgroup)))
    ).cast("long")
    salt = F.when(n > cfg.bucket_cap, F.pmod(
        F.xxhash64(F.col(id_col), F.lit("pair-salt")), n_subgroups)
    ).otherwise(F.lit(0).cast("long"))
    return (
        buckets.select(*BUCKET_KEY, id_col,
                       F.count(F.lit(1)).over(w_bucket).alias("_n"),
                       F.min(id_col).over(w_bucket).alias("_root"))
        .filter(n >= 2)
        .groupBy(*BUCKET_KEY, salt.alias("salt"), "_n", "_root")
        .agg(F.collect_list(id_col).alias("ids"))
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
                    id_col: str = "url",
                    known: DataFrame | None = None) -> DataFrame:
    """bucket_arrays output (or raw bucket rows, detected by the
    absence of an `ids` column) -> distinct candidate (a, b), a < b.

    Pairs already in ``known`` (a, b), a < b, are left out: they join
    the same dedup shuffle tagged as known, so dropping them costs no
    join."""
    if "ids" not in arrays.columns:
        arrays = bucket_arrays(arrays, cfg, id_col=id_col)
    # a subgroup joins its bucket through the bucket-min id; the row
    # holding that id (every unsalted bucket's only row) emits nothing
    star = arrays.select(F.col("_root").alias("a"),
                         F.array_min("ids").alias("b")) \
        .filter(F.col("a") < F.col("b"))
    pairs = _explode_pairs(arrays).unionByName(star)
    if known is None:
        return pairs.dropDuplicates(["a", "b"])
    return (
        pairs.withColumn("_known", F.lit(False))
        .unionByName(known.select("a", "b", F.lit(True).alias("_known")))
        .groupBy("a", "b").agg(F.max("_known").alias("_known"))
        .filter(~F.col("_known"))
        .select("a", "b")
    )


def bucket_stats_from_groups(groups: DataFrame, cfg: DedupConfig,
                             total_bucket_rows: int) -> DataFrame:
    """Skew observability (maps graph statistics showInfo,
    src/divGraph.h:1148-1231) from the (materialized, small)
    bucket_arrays output plus the known explode row count — singleton
    counts follow arithmetically: every bucket row not in a
    multi-member bucket is its own bucket. A bucket is counted on the
    one row that holds its min id, so no distinct count (and no
    shuffle) is needed. Logged to the metrics sink every run — capped
    volume is never silently dropped."""
    salted = F.col("_n") > cfg.bucket_cap
    root_row = (F.array_min("ids") == F.col("_root")).cast("long")
    agg = groups.agg(
        F.sum(root_row).alias("_multi"),
        F.sum(F.size("ids")).alias("_multi_rows"),
        F.max("_n").alias("max_bucket"),
        F.sum(F.when(salted, root_row).otherwise(0)).alias("salted_buckets"),
        F.sum(F.when(salted, F.size("ids")).otherwise(0))
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
