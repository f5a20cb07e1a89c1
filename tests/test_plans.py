"""Physical-plan assertions: the plan we ship is the plan we want —
projection pruning into the parquet scan, filter pushdown, broadcast
where intended. These guard the properties that matter at 100x scale
but are invisible in row-count tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators.signatures import compute_signatures
from lsh_apg_spark.plans import explain

CFG = DedupConfig()
SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_signature_stage_prunes_scan(spark, docs):
    """The signature stage must read ONLY (doc_id, text) from storage —
    a scan reading lang/source/n_chars for a 2-column map is wrong."""
    sigs = compute_signatures(docs, CFG, id_col="doc_id", text_col="text")
    cols = explain.scan_read_schema(sigs)
    assert set(cols) == {"doc_id", "text"}, cols


def test_filter_pushdown_reaches_scan(spark, docs):
    q = docs.filter(F.col("lang") == "en").select("doc_id")
    plan = explain.formatted_plan(q)
    assert "PushedFilters" in plan
    assert "lang" in explain.pushed_filters(q)


def test_broadcast_small_dimension(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    j = li.join(F.broadcast(n), li.l_suppkey == n.n_nationkey)
    assert explain.has_broadcast_join(j)


def test_verify_stage_is_jvm_only(spark):
    """Exact verification must be pure JVM (array_intersect in
    whole-stage codegen): the ONLY Python in the whole edge plan is
    the signature UDF itself. A Python UDF creeping back into the
    per-pair path is the single worst 100x-scale regression."""
    from lsh_apg_spark.operators.banding import explode_buckets
    from lsh_apg_spark.operators.pairs import candidate_pairs
    from lsh_apg_spark.operators.verify import verify_edges

    docs = spark.createDataFrame(
        [("u1", "a b c d e f"), ("u2", "a b c d e g")], "url string, text string")
    sigs = compute_signatures(docs, CFG).localCheckpoint(eager=True)
    pairs = candidate_pairs(explode_buckets(sigs, CFG), CFG)
    edges = verify_edges(pairs, sigs, CFG)
    plan = explain.simple_plan(edges)
    assert "EvalPython" not in plan, "Python UDF in the per-pair verify path"
    assert "array_intersect" in plan


def test_pair_generation_is_joinless_and_jvm_only(spark):
    """Candidate pairs expand row-locally (double explode of the
    bucket member array): the plan must contain NO join and NO Python
    below the dedup shuffle — a self-join sneaking back in doubles the
    widest shuffle in the pipeline."""
    from lsh_apg_spark.operators.banding import explode_buckets
    from lsh_apg_spark.operators.pairs import bucket_arrays, candidate_pairs

    docs = spark.createDataFrame(
        [("u1", "a b c d e f"), ("u2", "a b c d e g")], "url string, text string")
    sigs = compute_signatures(docs, CFG)
    # materialized, as in the pipeline (stage "bucket_subgroups")
    arrays = bucket_arrays(explode_buckets(sigs, CFG), CFG) \
        .localCheckpoint(eager=True)
    pairs = candidate_pairs(arrays, CFG)
    plan = explain.simple_plan(pairs)
    assert "Join" not in plan, "pair expansion regressed to a join"
    assert "EvalPython" not in plan, "Python UDF in pair expansion"


def test_webtext_ops_are_jvm_only(spark, docs):
    """The round-4 curation operators (n-gram repetition / boilerplate
    mining / line dedup) must stay pure JVM — they run over the full
    corpus upstream of dedup, so any Python UDF here is a hot-path
    regression — and line_dedup's scan must prune to (doc_id, text)."""
    from lsh_apg_spark.operators import linedup, textstats

    for df in (textstats.ngram_repetition(docs, n=2),
               textstats.top_ngrams(docs, n=3, k=20),
               textstats.quality_filter(docs),
               linedup.line_dedup(docs)):
        assert "EvalPython" not in explain.simple_plan(df)
    # quality_filter is a pure per-row rule pass: its plan must carry
    # no shuffle and no join (an earlier form self-joined the corpus
    # to attach the per-doc dup-bigram fraction)
    qf_plan = explain.simple_plan(textstats.quality_filter(docs))
    assert "Exchange" not in qf_plan, qf_plan
    assert "Join" not in qf_plan, qf_plan
    # URL canonicalization is a pure per-row regexp chain; url_dedup
    # adds only its keep-first aggregate + join back — no Python
    from lsh_apg_spark.operators import urlnorm
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://example.com/"),
                 F.col("doc_id").cast("string")).alias("url"))
    canon_plan = explain.simple_plan(
        pages.select(urlnorm.canonicalize_url("url")))
    assert "Exchange" not in canon_plan and "EvalPython" not in canon_plan
    assert "EvalPython" not in explain.simple_plan(urlnorm.url_dedup(pages))
    assert "EvalPython" not in explain.simple_plan(
        urlnorm.domain_stats(pages))
    # pii_scrub is a pure per-row regexp chain: no shuffle, no Python
    from lsh_apg_spark.operators import pii
    pii_plan = explain.simple_plan(pii.pii_scrub(docs))
    assert "Exchange" not in pii_plan and "EvalPython" not in pii_plan
    # extraction verify: per-row decode+regexp+compare, no shuffle
    from lsh_apg_spark.operators import extract
    pages2 = docs.select(
        "doc_id", "text",
        F.encode(F.col("text"), "UTF-8").alias("html"))
    ev_plan = explain.simple_plan(extract.verify_extraction(pages2))
    assert "Exchange" not in ev_plan and "EvalPython" not in ev_plan
    # LM train+score is aggs + a broadcast token join — never Python
    from lsh_apg_spark.operators import lm
    assert "EvalPython" not in explain.simple_plan(
        lm.lm_score(docs, lm.train_unigram_lm(docs)))
    cols = explain.scan_read_schema(linedup.line_dedup(docs))
    assert set(cols) == {"doc_id", "text"}, cols


def test_codegen_covers_relational_stages(spark, docs):
    agg = docs.groupBy("lang").agg(F.avg("n_chars").alias("a"))
    assert explain.codegen_stage_count(agg) >= 1
