"""Substring-containment pass — winnowing fingerprints + exact verify.
New capability demanded by the north_star (no reference analogue; the
closest relative is the reference's two-phase candidates-then-exact-
verify shape, src/e2lsh.cpp:131-200 + :170).

A global distributed suffix array would need a total sort of all
suffixes; winnowing (Schleimer et al., SIGMOD'03) gets the same
guarantee — any shared span >= min_substring_len yields a shared
fingerprint — with an embarrassingly parallel per-document pass, which
is the right trade at 10^12 documents. The fingerprint buckets then
reuse the SAME capped/salted pair machinery as the MinHash bands.

Two verdicts over the same candidates: ``substring_edges`` reports
each pair's exact LCS length; ``substring_links`` feeds a cluster
graph, so it skips the pairs that graph already holds and only tests
lcs_len >= min_substring_len (one window test per pair, no search)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions.minhash import (
    make_lcs_udf, make_shares_substring_udf, make_winnow_udf,
)
from lsh_apg_spark.operators.pairs import candidate_pairs


def winnow_buckets(docs: DataFrame, cfg: DedupConfig,
                   id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, text) -> (id, bhash=fingerprint) — shaped like MinHash
    bucket rows so pair generation is shared."""
    winnow = make_winnow_udf(cfg)
    return docs.select(
        id_col, F.explode(winnow(F.col(text_col))).alias("bhash"))


def _with_texts(cands: DataFrame, docs: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """(a, b) -> (a, b, _ta, _tb)."""
    texts_a = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    texts_b = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    return cands.join(texts_a, "a").join(texts_b, "b")


def substring_edges(docs: DataFrame, cfg: DedupConfig,
                    id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, text, ...) -> (a, b, lcs_len) with exact longest common
    substring >= min_substring_len, candidates from winnowing."""
    cands = candidate_pairs(winnow_buckets(docs, cfg, id_col, text_col),
                            cfg, id_col)
    lcs = make_lcs_udf()
    return (
        _with_texts(cands, docs, id_col, text_col)
        .withColumn("lcs_len", lcs(F.col("_ta"), F.col("_tb")))
        .filter(F.col("lcs_len") >= cfg.min_substring_len)
        .select("a", "b", "lcs_len")
    )


def substring_links(docs: DataFrame, cfg: DedupConfig, known: DataFrame,
                    id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, text, ...) + known (a, b), a < b -> the (a, b) pairs of
    substring_edges that ``known`` lacks. For a connected-components
    input: a pair already in the graph cannot change a component, so
    it is dropped before its texts are joined and tested."""
    cands = candidate_pairs(winnow_buckets(docs, cfg, id_col, text_col),
                            cfg, id_col, known=known)
    shares = make_shares_substring_udf(cfg.min_substring_len)
    return (
        _with_texts(cands, docs, id_col, text_col)
        .filter(shares(F.col("_ta"), F.col("_tb")))
        .select("a", "b")
    )
