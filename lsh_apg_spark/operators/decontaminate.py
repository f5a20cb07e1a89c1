"""Cross-corpus decontamination — flag training documents that
near-duplicate any document of a (small) held-out/eval reference set.

The standard LLM-pipeline hygiene step: before training on a web
corpus, remove documents whose shingle-set Jaccard with any benchmark
document exceeds tau, so eval scores measure generalization rather
than memorization. This is the bipartite form of the engine's MinHash
near-dup dedup (same signature/banding/verify machinery —
SURVEY.md §2.2 P2-P5, §2.4 J1; the reference's single-corpus
candidate+verify loop recast across two corpora), with the asymmetry
that makes it cheap at 100 TB: the eval side is tiny (thousands of
docs), so its bucket table and shingle sets BROADCAST — the train
corpus is scanned once, never shuffled:

  train ──signatures──► bucket explode ─┐
                                        ├─ broadcast hash join on
  eval ───signatures──► bucket explode ─┘  bucket key (train in place)
                 candidates (train_id, eval_id) — rare, tiny
                                        │
  exact verify: JVM array_intersect Jaccard, eval shingles broadcast,
  train shingles probed in place (candidates broadcast to the corpus)

Recall is the LSH family's (bands x rows_per_band at tau — the same
frozen config the dedup pipeline gates recall >= 0.99 on); every
reported pair carries the EXACT Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators.banding import explode_buckets
from lsh_apg_spark.operators.signatures import compute_signatures

# Above this many rows a frame stops being a safe driver broadcast and
# the verify joins fall back to plain shuffles (VERDICT r3 item 5: an
# adversarial batch — train text = benchmark text, or an eval set of
# boilerplate — makes the candidate set O(|train|); an unconditional
# broadcast then OOMs the driver). ~2M slim id-pair rows is tens of MB;
# shingle-set rows are wider, so the eval-side guard uses doc count.
MAX_BROADCAST_ROWS = 2_000_000
MAX_BROADCAST_EVAL_DOCS = 200_000
# the n-gram bank's rows are WIDE (a full n-word string, ~100-250 B at
# n=13, vs the ~16 B id-pair rows MAX_BROADCAST_ROWS is calibrated
# for), so the gram-side guard trips ~5-10x earlier to keep the
# broadcast budget in the same tens-of-MB range
MAX_BROADCAST_GRAM_ROWS = 400_000


def _maybe_broadcast(df: DataFrame, n_rows: int, limit: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= limit else df


def _checkpoint_counted(df: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Materialize ``df`` once; its row count rides the same job."""
    seen = Observation(name)
    df = df.observe(seen, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    return df, seen.get["n"]


def decontaminate_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    cfg: DedupConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
    train_signatures: DataFrame | None = None,
) -> DataFrame:
    """(train_id, eval_id, jaccard) for every cross-corpus pair with
    exact shingle-Jaccard >= cfg.tau.

    Pass ``train_signatures`` (a prior `compute_signatures(train, cfg)`
    frame, e.g. the dedup pipeline's checkpointed signature stage) to
    skip re-signaturing the big side — decontamination then touches the
    train corpus only through two in-place probes.

    The candidate set and the eval shingle sets broadcast ONLY while
    their measured row counts stay under the MAX_BROADCAST_* guards —
    the rare-by-construction assumption is checked, not assumed, so a
    contamination-heavy batch degrades to shuffle joins instead of
    OOMing the driver. The counts ride on materializations the operator
    wants anyway (the eval side is reused twice; the candidate set
    gates the verify fan-out)."""
    cfg = cfg or DedupConfig()
    sig_t = train_signatures if train_signatures is not None \
        else compute_signatures(train, cfg, id_col=id_col, text_col=text_col)
    sig_e, n_eval = _checkpoint_counted(
        compute_signatures(eval_docs, cfg, id_col=id_col,
                           text_col=text_col), "eval_signatures")

    b_t = explode_buckets(sig_t, cfg, id_col=id_col) \
        .withColumnRenamed(id_col, "train_id")
    b_e = explode_buckets(sig_e, cfg, id_col=id_col) \
        .withColumnRenamed(id_col, "eval_id")
    cands, n_cands = _checkpoint_counted(
        b_t.join(_maybe_broadcast(b_e, n_eval * cfg.bands
                                  * (1 + cfg.num_probes),
                                  MAX_BROADCAST_ROWS), "bhash")
        .select("train_id", "eval_id")
        .dropDuplicates(["train_id", "eval_id"]), "candidates")

    sh_t = sig_t.select(F.col(id_col).alias("train_id"),
                        F.col("shingles").alias("_st"))
    sh_e = sig_e.select(F.col(id_col).alias("eval_id"),
                        F.col("shingles").alias("_se"))
    inter = F.size(F.array_intersect("_st", "_se"))
    return (
        sh_t.join(_maybe_broadcast(cands, n_cands, MAX_BROADCAST_ROWS),
                  "train_id")
        .join(_maybe_broadcast(sh_e, n_eval, MAX_BROADCAST_EVAL_DOCS),
              "eval_id")
        .withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.col("_i") / (F.size("_st") + F.size("_se") - F.col("_i")))
        .filter(F.col("jaccard") >= cfg.tau)
        .select("train_id", "eval_id", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    cfg: DedupConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
    train_signatures: DataFrame | None = None,
) -> DataFrame:
    """The train corpus with contaminated documents REMOVED (left_anti
    against the flagged ids) — the drop-in cleaning step. Schema =
    train's schema, order-preserving per partition."""
    flagged, n_flagged = _checkpoint_counted(decontaminate_pairs(
        train, eval_docs, cfg, id_col=id_col, text_col=text_col,
        train_signatures=train_signatures,
    ).select(F.col("train_id").alias(id_col)).distinct(), "flagged")
    return train.join(
        _maybe_broadcast(flagged, n_flagged, MAX_BROADCAST_ROWS),
        id_col, "left_anti")


def decontaminate_exact_ngrams(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(train_id, eval_id, n_shared) for every cross-corpus pair
    sharing >= ``min_hits`` distinct word n-grams — the exact-overlap
    decontamination rule (GPT-3 appendix C / PaLM style: a train doc is
    contaminated if any eval n-gram appears verbatim in it), the
    conservative complement to ``decontaminate_pairs``'s fuzzy Jaccard
    rule. n defaults to 13, the published choice; lower it for short
    benchmark strings.

    Same asymmetry contract as the MinHash form: the eval n-gram bank
    is tiny (|eval| x ~tokens rows of short strings), so it BROADCASTS
    while its measured row count stays under MAX_BROADCAST_GRAM_ROWS
    (a width-aware cap: gram rows carry a full n-word string) — the
    train corpus is scanned once and never shuffled; only MATCHED
    (train_id, eval_id, gram) rows enter the counting shuffle, and
    those are rare by construction (a random 13-gram collides with a
    held-out benchmark essentially never). Grams are per-doc distinct
    on BOTH sides, so n_shared counts distinct shared grams and a
    degenerate repetitive doc cannot blow up the join fan-out.
    Everything below the scan is JVM array expressions — no Python in
    the hot path."""
    from lsh_apg_spark.operators.textstats import ngrams_col

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(ngrams_col(text_col, n)))
            .alias("_gram"))

    bank, n_bank = _checkpoint_counted(grams(eval_docs, "eval_id"),
                                       "gram_bank")
    return (
        grams(train, "train_id")
        .join(_maybe_broadcast(bank, n_bank, MAX_BROADCAST_GRAM_ROWS),
              "_gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_hits)
    )
