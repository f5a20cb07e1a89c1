"""Stage 4 — exact verification of candidate pairs (maps the exact
re-rank P8/P10, reference src/basis.h:186-202 +
src/distances_simd_avx512.cpp:416-420, and the lower-bound pruning
F2/F3, src/divGraph.h:544,1118).

Entirely JVM-side: the signature stage already materialized each
document's distinct shingle-hash set (ARRAY<BIGINT>), so exact Jaccard
is `array_intersect`/`size` inside whole-stage codegen — no Python
anywhere in the verify path. The pair rows join the (slim) signatures
table twice; the set sizes and the exact intersection are evaluated
after the join with no UDF boundary, so Catalyst is free to reorder and
pipeline the whole stage."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig


def verify_edges(pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig,
                 id_col: str = "url") -> DataFrame:
    """(a, b, ...) + signatures(id, shingles) -> verified edges
    (a, b, ..., jaccard) with exact shingle-set Jaccard >= tau; any
    other column of ``pairs`` rides along between b and jaccard.

    The exact Jaccard (never the MinHash estimate) decides every edge,
    mirroring the reference's exact re-rank of every surviving
    candidate (src/e2lsh.cpp:170)."""
    sig_a = signatures.select(F.col(id_col).alias("a"),
                              F.col("shingles").alias("_sa"))
    sig_b = signatures.select(F.col(id_col).alias("b"),
                              F.col("shingles").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    extra = [c for c in pairs.columns if c not in ("a", "b")]
    return (
        pairs.join(sig_a, "a").join(sig_b, "b")
        .withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.col("_i") / (F.size("_sa") + F.size("_sb") - F.col("_i")))
        .filter(F.col("jaccard") >= cfg.tau)
        .select("a", "b", *extra, "jaccard")
    )
