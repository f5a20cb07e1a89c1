"""Stage 1 — per-document signatures (maps P1-P3 of SURVEY.md §2.2:
hashBase::setHash/calHash/getHash, reference src/e2lsh.cpp:40-91).

Narrow map stage: one Arrow-batched pandas UDF computes the shingle set
and MinHash per document (the MinHash values are folded into bucket
keys inside the UDF and never leave it); no shuffle is introduced here,
so at 100 TB this stage scales linearly with input splits."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions.minhash import make_signature_udf


def compute_signatures(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(id, text, ...) -> (id, shingles ARRAY<BIGINT>, bhashes ARRAY<BIGINT>).

    ``shingles`` (the distinct shingle-hash set) rides along so the
    verify stage is a JVM-only array_intersect — the text column never
    needs to be joined again downstream. ``bhashes`` (the LSH bucket
    keys, computed vectorized inside the same Arrow pass) makes the
    banding stage a bare explode.

    Column-pruned: only (id, text) are read from the scan; Catalyst
    pushes the projection into the parquet/Iceberg reader."""
    sig = make_signature_udf(cfg)
    return (
        docs.select(id_col, text_col)
        .withColumn("_sig", sig(F.col(text_col)))
        .select(
            F.col(id_col),
            F.col("_sig.shingles").alias("shingles"),
            F.col("_sig.bhashes").alias("bhashes"),
        )
    )
