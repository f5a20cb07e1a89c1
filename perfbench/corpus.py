"""Seeded inputs of the benchmark workloads.

Both crawl workloads read one `fixtures.generate_pages` corpus (~50%
unique docs, 10% hot boilerplate, 20% exact copies, 15% near-duplicates,
5% substring containments). The incremental workload splits a corpus of
the same mix into a base (ingested during set-up) and INC_BATCHES
micro-batches; each batch therefore holds fresh docs and near/exact
copies of docs already ingested. Everything is a function of the seed alone."""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from lsh_apg_spark.fixtures import generate_pages

CRAWL_DOCS = 1000
INC_BASE_DOCS = 400
INC_BATCH_DOCS = 100
INC_BATCHES = 1


@dataclass
class Corpus:
    pages: pd.DataFrame            # (url, text)
    groups: list[list[str]]        # planted duplicate structure


def crawl_corpus(seed: int, n_docs: int = CRAWL_DOCS) -> Corpus:
    fx = generate_pages(n_docs=n_docs, seed=seed)
    groups = (fx.exact_groups + fx.near_groups
              + [list(p) for p in fx.substring_pairs] + [fx.hot_group])
    return Corpus(pages=fx.pages[["url", "text"]], groups=groups)


def incremental_split(seed: int, n_base: int = INC_BASE_DOCS,
                      n_batch: int = INC_BATCH_DOCS,
                      n_batches: int = INC_BATCHES
                      ) -> tuple[Corpus, pd.DataFrame, list[pd.DataFrame]]:
    """(whole corpus, base pages, [batch pages]): a seeded random split,
    so planted groups straddle the base and the batches."""
    corpus = crawl_corpus(seed, n_base + n_batches * n_batch)
    order = list(range(len(corpus.pages)))
    random.Random(seed + 7919).shuffle(order)
    batches = [corpus.pages.iloc[sorted(order[i * n_batch:(i + 1) * n_batch])]
               for i in range(n_batches)]
    base = corpus.pages.iloc[sorted(order[n_batches * n_batch:])]
    return corpus, base, batches
