"""Sequence packing — documents into fixed-token-budget training rows.

The step after curation in an LLM data pipeline: the tokenizer consumes
fixed-length sequences, so documents are concatenated greedily until a
token budget fills, then a new sequence starts (next-fit packing — the
T5/GPT-3 style "pack then chunk" preprocessing, Raffel et al. 2020
§3.1.2). The reference engine has no analogue (float-vector ANN only);
this operator exists because a curated corpus that cannot be packed
deterministically cannot be trained on reproducibly.

Spark shape: packing is inherently sequential (each placement depends
on the running remainder), so it CANNOT be a window cumsum — but it is
sequential only WITHIN a shard. Documents are sharded by an
engine-common md5 prefix (deterministic, key-independent of the text),
ordered deterministically inside each shard by (md5, id), and each
shard packs independently in one Arrow-batched applyInPandas group —
embarrassingly parallel across shards, the established fallback for
bounded sequential loops (SURVEY.md §2.11). At 100 TB, n_shards scales
with the corpus (shard mass ~ N/n_shards documents), every shard is a
single task, and no shuffle other than the one groupBy(shard) exists
in the plan. Token counts are INTEGERS computed by the engine's
hash-verified whitespace tokenizer (textstats.tokens_col), so every
packing decision is exact — the DuckDB replay needs no float margin
guards at all (the only such oracle in the seeded family).

Semantics (deterministic, order-independent of input partitioning):

    for each doc in shard order:                 # (md5, id) ascending
        if acc > 0 and acc + t > budget:         # would overflow
            seq += 1; acc = 0                    # close, start fresh
        assign doc -> seq; acc += t

A document with t >= budget therefore sits alone in its own sequence
(it closes whatever was open and forces the next doc to start fresh) —
the operator never splits a document; downstream tokenizers truncate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_apg_spark.operators.textstats import tokens_col


def pack_sequences(docs: DataFrame, budget: int,
                   n_shards: int = 64,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """docs(id, text) -> (id_col, shard, seq, n_tokens): the training
    sequence each document lands in. ``(shard, seq)`` is the sequence
    key; ``n_tokens`` the document's own token count (whitespace
    tokenizer, identical to token_stats). Deterministic given
    (corpus, budget, n_shards); input partitioning never matters
    because shard order is (md5, id), not arrival order."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    id_type = docs.schema[id_col].dataType.simpleString()
    h = F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens_col(text_col)).alias("n_tokens"),
        h.alias("_h"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("_h", 1, 8), 16, 10).cast("long")
         % n_shards).cast("int"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", "id"], kind="mergesort")
        seqs, seq, acc = [], 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if acc > 0 and acc + t > budget:
                seq += 1
                acc = 0
            seqs.append(seq)
            acc += t
        out = pdf[["id", "shard", "n_tokens"]].copy()
        out["seq"] = seqs
        return out[["id", "shard", "seq", "n_tokens"]]

    return (
        base.groupBy("shard")
        .applyInPandas(
            _pack, f"id {id_type}, shard int, seq int, n_tokens int")
        .select(F.col("id").alias(id_col), "shard", "seq", "n_tokens")
    )


def packed_sequence_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One row per (shard, seq): docs, token fill and utilization —
    the packing-efficiency audit (fill/budget ~ 1 - internal
    fragmentation; oversize docs report utilization > 1 by contract
    since the operator never splits). Map-side-combined aggregate,
    one shuffle."""
    return (
        packed.groupBy("shard", "seq")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("fill_tokens"))
        .withColumn("utilization",
                    F.round(F.col("fill_tokens") / F.lit(budget), 4))
    )
