"""Cross-corpus decontamination (operators/decontaminate.py): known-
answer gates on planted cross-split near-dups, plus the left_anti
cleaning contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators.decontaminate import (
    decontaminate, decontaminate_pairs,
)


def _corpus(spark):
    """3 eval docs; train has: an exact copy of E0, a 1-word mutation
    of E0 (Jaccard ~0.9 at 3-word shingles), and unrelated docs."""
    base = " ".join(f"tok{i}" for i in range(60))
    mutated = base.replace("tok30", "changed")
    other = " ".join(f"alt{i}" for i in range(60))
    third = " ".join(f"third{i}" for i in range(60))
    evals = spark.createDataFrame(
        [("e0", base), ("e1", other), ("e2", third)], "url string, text string")
    train = spark.createDataFrame(
        [
            ("t_copy", base),           # exact: jaccard 1.0 vs e0
            ("t_near", mutated),        # near: ~0.9 vs e0
            ("t_clean1", " ".join(f"clean{i}" for i in range(60))),
            ("t_clean2", " ".join(f"fresh{i}" for i in range(60))),
        ],
        "url string, text string")
    return train, evals


def test_decontaminate_pairs_known_answer(spark):
    train, evals = _corpus(spark)
    cfg = DedupConfig()
    got = {(r["train_id"], r["eval_id"]): r["jaccard"]
           for r in decontaminate_pairs(train, evals, cfg).collect()}
    assert set(got) == {("t_copy", "e0"), ("t_near", "e0")}
    assert got[("t_copy", "e0")] == 1.0
    assert 0.8 <= got[("t_near", "e0")] < 1.0


def test_decontaminate_removes_only_flagged(spark):
    train, evals = _corpus(spark)
    clean = decontaminate(train, evals, DedupConfig())
    assert sorted(r["url"] for r in clean.collect()) == \
        ["t_clean1", "t_clean2"]
    # schema passes through untouched
    assert clean.columns == train.columns


def test_decontaminate_reuses_prior_signatures(spark):
    from lsh_apg_spark.operators.signatures import compute_signatures
    train, evals = _corpus(spark)
    cfg = DedupConfig()
    sigs = compute_signatures(train, cfg).localCheckpoint(eager=True)
    assert sigs.columns == ["url", "shingles", "bhashes"]
    via_sigs = decontaminate_pairs(train, evals, cfg,
                                   train_signatures=sigs)
    direct = decontaminate_pairs(train, evals, cfg)
    assert sorted(map(tuple, via_sigs.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_decontaminate_contamination_heavy_shuffle_fallback(
        spark, monkeypatch):
    """Broadcast-safety (VERDICT r3 item 5): when the measured
    candidate / eval counts exceed the broadcast guards (simulated by
    zeroing the limits), every join degrades to a shuffle — same
    answer, no driver broadcast. The corpus is adversarial: train ⊇
    eval (every train doc IS a benchmark doc), the regime where the
    old unconditional broadcast was O(|train|)."""
    from lsh_apg_spark.operators import decontaminate as dmod
    evals = spark.createDataFrame(
        [(f"e{i}", " ".join(f"tok{i}_{j}" for j in range(40)))
         for i in range(12)],
        "url string, text string")
    train = evals.select(
        F.concat(F.lit("t_"), F.col("url")).alias("url"), "text")
    cfg = DedupConfig()

    expected = sorted(map(tuple,
                          decontaminate_pairs(train, evals, cfg).collect()))
    assert len(expected) == 12  # fully contaminated: every doc pairs up

    monkeypatch.setattr(dmod, "MAX_BROADCAST_ROWS", 0)
    monkeypatch.setattr(dmod, "MAX_BROADCAST_EVAL_DOCS", 0)
    got = sorted(map(tuple,
                     decontaminate_pairs(train, evals, cfg).collect()))
    assert got == expected
    # and the cleaning wrapper drops the whole contaminated batch
    assert dmod.decontaminate(train, evals, cfg).count() == 0


def test_decontaminate_train_side_never_shuffles(spark):
    """The 100 TB contract: every JOIN is a broadcast join (eval
    buckets, the candidate set, and eval shingles broadcast; the train
    corpus is probed in place on both of its touches). The only
    non-broadcast exchange allowed is the candidate dedup's hash
    aggregation — it repartitions the (rare, tiny) candidate pairs,
    never the corpus."""
    from lsh_apg_spark.plans import explain
    train, evals = _corpus(spark)
    plan = explain.simple_plan(decontaminate_pairs(
        train, evals, DedupConfig()))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_exact_ngram_decontamination(spark):
    """GPT-3-style exact 8-gram overlap on the planted corpus: the
    verbatim copy shares every 8-gram with e0, the 1-word mutation
    loses exactly the windows covering the mutated position, clean
    docs never appear, and min_hits thresholds admit accordingly."""
    from lsh_apg_spark.operators.decontaminate import (
        decontaminate_exact_ngrams,
    )
    train, evals = _corpus(spark)
    n = 8
    base_toks = [f"tok{i}" for i in range(60)]
    grams = lambda toks: {  # noqa: E731
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    base_g = grams(base_toks)
    mut_g = grams([t if t != "tok30" else "changed" for t in base_toks])

    out = {(r["train_id"], r["eval_id"]): r["n_shared"]
           for r in decontaminate_exact_ngrams(
               train, evals, n=n, id_col="url").collect()}
    assert out == {
        ("t_copy", "e0"): len(base_g),
        ("t_near", "e0"): len(base_g & mut_g),
    }
    # thresholding: only the verbatim copy clears a high bar
    strict = decontaminate_exact_ngrams(
        train, evals, n=n, min_hits=len(base_g & mut_g) + 1,
        id_col="url").collect()
    assert [(r["train_id"], r["eval_id"]) for r in strict] \
        == [("t_copy", "e0")]


def test_exact_ngram_counts_distinct_grams(spark):
    """A degenerate repetitive train doc cannot inflate n_shared: the
    shared-gram count is over DISTINCT grams on both sides, so 10
    verbatim repetitions of an eval sentence still count each gram
    once (and the join fan-out stays bounded)."""
    from lsh_apg_spark.operators.decontaminate import (
        decontaminate_exact_ngrams,
    )
    sent = " ".join(f"w{i}" for i in range(8))  # exactly one 8-gram
    evals = spark.createDataFrame([("e0", sent)], "url string, text string")
    train = spark.createDataFrame([("t0", " ".join([sent] * 10))],
                                  "url string, text string")
    rows = decontaminate_exact_ngrams(train, evals, n=8,
                                      id_col="url").collect()
    # the repeated doc also forms bridging grams (w6 w7 w0 w1 ...) that
    # the single-sentence eval side lacks; only the exact sentence gram
    # is shared, and it counts once
    assert [(r["train_id"], r["eval_id"], r["n_shared"])
            for r in rows] == [("t0", "e0", 1)]


def test_exact_ngram_train_side_never_shuffles(spark):
    """Same 100 TB contract as the fuzzy form: the gram join must be a
    broadcast hash join (eval bank broadcasts), so the train corpus is
    scanned once in place; the only exchange is the counting agg over
    MATCHED rows."""
    from lsh_apg_spark.operators.decontaminate import (
        decontaminate_exact_ngrams,
    )
    from lsh_apg_spark.plans import explain
    train, evals = _corpus(spark)
    plan = explain.simple_plan(
        decontaminate_exact_ngrams(train, evals, n=8, id_col="url"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_decontaminate_job_count(spark, count_jobs):
    """Job-count guard: on the planted corpus ``decontaminate`` runs 8
    Spark jobs and ``decontaminate_exact_ngrams`` 1, each bounded at
    one job above. Each broadcast-guard count rides its checkpoint job
    as an Observation; with a separate count() after each checkpoint
    (two jobs apiece) they ran 14 and 3."""
    from lsh_apg_spark.operators.decontaminate import (
        decontaminate_exact_ngrams,
    )
    train, evals = _corpus(spark)
    _, jobs = count_jobs(lambda: decontaminate(train, evals, DedupConfig()))
    assert 0 < jobs <= 9, jobs
    _, jobs = count_jobs(
        lambda: decontaminate_exact_ngrams(train, evals, n=8, id_col="url"))
    assert 0 < jobs <= 2, jobs
