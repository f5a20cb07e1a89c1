"""HTML -> text extraction + the byte-identity invariant check.

The north_rule's correctness gate is "byte-identical extracted text
per url": the `text` column is produced ONCE upstream from `html` and
is never mutated downstream (signature normalization happens inside
kernels only — functions/kernels.py:36). This module makes that gate
an executable operator: re-extract from `html` and compare bytes.

The default extractor is a pure-JVM decode + tag-strip chain matching
the corpus's WARC-extraction format (the fixture generator writes
``<html><body>TEXT</body></html>``, fixtures.py:68). A production
pipeline plugs its real extractor (trafilatura/jusText — not in this
container) as any Column -> Column function; the INVARIANT CHECK is
the contract here, the same honest-stub stance as the multimodal
decode gate (operators/multimodal.py).

Scale shape: per-row JVM expressions, zero shuffles, zero Python —
the check is a narrow map over the scan, and the summary aggregates
with map-side combine.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def default_extractor(html: Column) -> Column:
    """UTF-8 decode + tag strip — exact for the corpus's wrapper
    format; replace with a real boilerplate-aware extractor in
    production."""
    return F.regexp_replace(F.decode(html, "UTF-8"), r"<[^>]*>", "")


def verify_extraction(pages: DataFrame, html_col: str = "html",
                      text_col: str = "text",
                      extractor: Callable[[Column], Column]
                      = default_extractor) -> DataFrame:
    """Per-row byte-identity check of the stored text against a fresh
    extraction: (.., ok BOOLEAN). Compared as binary so an encoding
    drift can never hide behind string collation; NULL html or text
    fails the check (ok = false, never NULL) — an unverifiable row is
    a violation, not a pass."""
    ext = extractor(F.col(html_col))
    ok = F.coalesce(
        ext.cast("binary") == F.col(text_col).cast("binary"), F.lit(False))
    return pages.withColumn("ok", ok)
