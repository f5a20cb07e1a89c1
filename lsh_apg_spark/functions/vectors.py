"""Vector math over ARRAY<FLOAT/DOUBLE> embedding columns.

Used by the ANN-mode operators (the reference's native domain:
float-vector kNN, src/def.h:5-14). Two tiers:

* column expressions (zip_with/aggregate) — convenient for one-off
  scalar uses, but NOTE: Spark evaluates higher-order-function lambdas
  interpreted, OUTSIDE whole-stage codegen, so they are ~50x slower
  than numpy for bulk scoring;
* `make_pair_score_udf` — the hot path: an Arrow-batched pandas UDF
  doing one numpy einsum per batch, the Spark analogue of the
  reference's SIMD distance kernels (src/fastL2_ip.h:237-257,
  src/distances_simd_avx512.cpp)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product (maps cal_inner_product, src/basis.h:168-175)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column | str) -> Column:
    """Squared L2 norm (maps cal_lengthSquare, src/basis.h:177-184)."""
    return F.aggregate(
        _c(a),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance — like the reference we stay in squared space
    end-to-end (USE_SQRDIST, src/def.h:3) and only sqrt at report time."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with double accumulation (interpreted — use
    make_pair_score_udf for bulk scoring)."""
    return dot(a, b) / (F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def make_pair_score_udf(metric: str = "cosine"):
    """(vec_a, vec_b) -> double, one numpy pass per Arrow batch.

    cosine: dot / max(|a|*|b|, 1e-12) — the floor (as in the IVF
    assignment UDFs) scores a zero vector 0 instead of NaN, which the
    engines would order differently against tau; l2_sq: squared L2
    (squared space end-to-end like USE_SQRDIST, src/def.h:3); l1 /
    linf: Manhattan and Chebyshev (maps fvec_L1_avx512 /
    fvec_Linf_avx512, src/distances_simd_avx512.h:29-40 — one numpy
    reduction per Arrow batch is the Spark analogue of those SIMD
    loops). float64
    accumulation so results agree with any double-precision oracle to
    well past 4 decimals."""

    @F.pandas_udf(DoubleType())
    def score(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for va, vb in it:
            a = np.stack(va.to_numpy()).astype(np.float64)
            b = np.stack(vb.to_numpy()).astype(np.float64)
            if metric == "cosine":
                num = np.einsum("ij,ij->i", a, b)
                den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
                out = num / np.maximum(den, 1e-12)
            elif metric == "l2_sq":
                d = a - b
                out = np.einsum("ij,ij->i", d, d)
            elif metric == "l1":
                out = np.abs(a - b).sum(axis=1)
            elif metric == "linf":
                out = np.abs(a - b).max(axis=1)
            else:
                raise ValueError(f"unknown metric {metric!r}")
            yield pd.Series(out)

    return score
