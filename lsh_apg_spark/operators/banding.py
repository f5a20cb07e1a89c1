"""Stage 2 — LSH banding + multi-probe bucket rows (maps J1/J2 of
SURVEY.md §2.4: the reference's L hash tables of K concatenated values,
src/e2lsh.cpp:14-23, and its Z-order multi-probe scan,
src/e2lsh.cpp:573-699).

The "hash table" IS the shuffle: downstream groupBy/join on
(band, probe, bhash) is Spark's distributed equivalent of the
reference's in-memory multimaps. Band hashes are computed inside the
signature UDF (kernels.band_probe_keys), so this stage is pure JVM."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig


def explode_buckets(signatures: DataFrame, cfg: DedupConfig,
                    id_col: str = "url") -> DataFrame:
    """(id, bhashes, ...) -> (id, bhash BIGINT).

    The band/probe indices live INSIDE the hash (see
    kernels.band_probe_keys), so a bucket row is just (id, key) — 16
    bytes with compact ids. Row count = N * bands * (1 + num_probes);
    the explode factor is the multi-probe recall knob (reference's
    lshUB probe budget, src/divGraph.h:934-937).

    The keys were computed in the signature UDF's numpy pass, so this
    is a bare explode with zero per-row hash work. ``cfg`` is unused;
    it keeps the (frame, cfg, id_col) shape every stage operator has."""
    return signatures.select(id_col, F.explode("bhashes").alias("bhash"))
