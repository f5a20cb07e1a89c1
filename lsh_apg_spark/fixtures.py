"""Deterministic synthetic `pages` corpus + brute-force golden oracle.

Mirrors the reference's oracle methodology: brute-force exact
ground truth, cached and used as the recall gate
(Preprocess::ben_make/ben_create, src/Preprocess.cpp:107-142,227-254;
recall accounting Performance::update, src/Query.cpp:9-67).

The corpus is the BASELINE.json input_hint shape:
(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
html = b"<html><body>" + text + b"</body></html>" so the html→text
extraction invariant is trivially byte-exact; `text` is the single
source of truth and the pipeline never mutates it.

Duplicate structure (FIXTURES.md §1):
* ~50% unique docs (seeded token soup, 50-500 words),
* exact-duplicate groups of sizes 2-10,
* near-duplicate groups with 1-5% token edits (includes borderline
  pairs straddling tau),
* substring-containment pairs (doc B = verbatim span of doc A inside
  boilerplate — only the winnowing pass can catch these),
* one adversarial hot group: many docs with identical boilerplate text
  (the mega-bucket / salting test).

Everything is a function of (seed, n_docs) only — regeneration is
byte-identical.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pandas as pd

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions import kernels

_VOCAB_SIZE = 2000
_LANGS = ["en", "en", "en", "en", "en", "en", "de", "fr"]
_EPOCH = dt.datetime(2024, 10, 8, tzinfo=dt.timezone.utc)

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def _vocab(rng: random.Random) -> list[str]:
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(3, 9)))
            for _ in range(_VOCAB_SIZE)]


@dataclass
class PagesFixture:
    pages: pd.DataFrame
    # planted structure for constructive checks
    exact_groups: list[list[str]] = field(default_factory=list)
    near_groups: list[list[str]] = field(default_factory=list)
    substring_pairs: list[tuple[str, str]] = field(default_factory=list)
    hot_group: list[str] = field(default_factory=list)


def _mk_row(i: int, text: str, lang: str) -> dict:
    url = f"https://site{i % 97}.example/p/{i}"
    return {
        "url": url,
        "warc_ts": _EPOCH + dt.timedelta(seconds=i),
        "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
        "text": text,
        "lang": lang,
    }


def generate_pages(n_docs: int = 400, seed: int = 42,
                   hot_group_size: int | None = None) -> PagesFixture:
    """Deterministic synthetic corpus; function of (n_docs, seed) only
    (plus ``hot_group_size``, which overrides the hot group's default
    size of max(8, n_docs // 10))."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    rows: list[dict] = []
    fx = PagesFixture(pages=pd.DataFrame())

    def soup(lo: int = 50, hi: int = 500) -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))

    def lang() -> str:
        return rng.choice(_LANGS)

    i = 0
    n_hot = hot_group_size if hot_group_size is not None else max(8, n_docs // 10)
    n_exact = max(2, int(n_docs * 0.20))
    n_near = max(2, int(n_docs * 0.15))
    n_sub = max(2, int(n_docs * 0.05))

    # hot group: near-identical boilerplate (mega-bucket in most bands).
    # Each member gets 1-2 token substitutions so texts are DISTINCT —
    # they survive the exact-dup collapse and stress the salting path —
    # while pairwise Jaccard stays ~0.95 >> tau (all true dups).
    hot_base = soup(140, 160).split()
    for v in range(n_hot):
        toks = list(hot_base)
        for e in range(1 + v % 2):
            toks[(v * 7 + e * 13) % len(toks)] = vocab[(v * 31 + e) % len(vocab)]
        rows.append(_mk_row(i, " ".join(toks), "en"))
        fx.hot_group.append(rows[-1]["url"])
        i += 1

    # exact-duplicate groups
    left = n_exact
    while left > 0:
        g = min(left, rng.randint(2, 10))
        text, lg = soup(), lang()
        urls = []
        for _ in range(g):
            rows.append(_mk_row(i, text, lg))
            urls.append(rows[-1]["url"])
            i += 1
        fx.exact_groups.append(urls)
        left -= g

    # near-duplicate groups: base + variants with 1-5% token edits
    left = n_near
    while left > 1:
        g = min(left, rng.randint(2, 4))
        base = soup(100, 400).split()
        urls = []
        rows.append(_mk_row(i, " ".join(base), lang()))
        urls.append(rows[-1]["url"])
        i += 1
        for _ in range(g - 1):
            toks = list(base)
            n_edit = max(1, int(len(toks) * rng.uniform(0.01, 0.05)))
            for _ in range(n_edit):
                op = rng.random()
                pos = rng.randrange(len(toks))
                if op < 0.5:
                    toks[pos] = rng.choice(vocab)
                elif op < 0.75:
                    toks.insert(pos, rng.choice(vocab))
                elif len(toks) > 10:
                    del toks[pos]
            rows.append(_mk_row(i, " ".join(toks), lang()))
            urls.append(rows[-1]["url"])
            i += 1
        fx.near_groups.append(urls)
        left -= g

    # substring containment: B = verbatim span of A + fresh boilerplate.
    # Span is long (>= 40 words ≈ >> min_substring_len chars) but B's
    # total token overlap with A stays below tau → only winnowing finds it.
    left = n_sub
    while left > 1:
        a_toks = soup(300, 500).split()
        span_len = rng.randint(60, 120)
        start = rng.randrange(0, len(a_toks) - span_len)
        span = " ".join(a_toks[start:start + span_len])
        b_text = soup(200, 300) + " " + span + " " + soup(200, 300)
        rows.append(_mk_row(i, " ".join(a_toks), lang()))
        url_a = rows[-1]["url"]
        i += 1
        rows.append(_mk_row(i, b_text, lang()))
        url_b = rows[-1]["url"]
        i += 1
        fx.substring_pairs.append((min(url_a, url_b), max(url_a, url_b)))
        left -= 2

    # unique filler up to n_docs
    while len(rows) < n_docs:
        rows.append(_mk_row(i, soup(), lang()))
        i += 1

    fx.pages = pd.DataFrame(rows)
    return fx


# ---------------------------------------------------------------------------
# Brute-force golden oracle (mirror of ben_make, src/Preprocess.cpp:107-142)
# ---------------------------------------------------------------------------

def golden_pairs(pages: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    """All-pairs exact word-shingle Jaccard >= tau. O(n^2) — fixture
    scale only, exactly like the reference's oracle."""
    cache: dict = {}
    ids = pages["url"].tolist()
    shingle_sets = [
        set(kernels.shingle_hashes(t, cfg.shingle_size, cache).tolist())
        for t in pages["text"]
    ]
    out = []
    n = len(ids)
    for x in range(n):
        sx = shingle_sets[x]
        for y in range(x + 1, n):
            sy = shingle_sets[y]
            inter = len(sx & sy)
            if inter == 0:
                continue
            j = inter / (len(sx) + len(sy) - inter)
            if j >= cfg.tau:
                a, b = sorted((ids[x], ids[y]))
                out.append((a, b, j))
    return pd.DataFrame(out, columns=["a", "b", "jaccard"]).sort_values(
        ["a", "b"]).reset_index(drop=True)


def golden_clusters(pages: pd.DataFrame, gpairs: pd.DataFrame) -> pd.DataFrame:
    """Union-find over golden pairs → (url, cluster_id=min member url)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: str, y: str) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            # min-id root for determinism
            lo, hi = sorted((rx, ry))
            parent[hi] = lo

    for a, b in zip(gpairs["a"], gpairs["b"]):
        union(a, b)
    rows = [(u, find(u)) for u in pages["url"]]
    return pd.DataFrame(rows, columns=["url", "cluster_id"]).sort_values(
        "url").reset_index(drop=True)


# ---------------------------------------------------------------------------
# ANN plane fixtures — the DuckDB-readable twin of the seeded UDF planes
# ---------------------------------------------------------------------------

def ensure_ann_plane_fixtures(repo_dir: str | None = None) -> dict[str, str]:
    """Materialize the seeded LSH projection planes as parquet files the
    DuckDB oracle can read (VERDICT r4 'missing #2' pattern, sanctioned
    for simhash: 'materialize the signature as a fixture column').

    The sign-LSH and p-stable hash families are deterministic functions
    of (seed, dim, n_funcs) — the SAME ``PCG64(seed).standard_normal``
    draw the pandas UDFs make (make_projection_udf / make_pstable_udf,
    operators/ann.py; the Spark analogue of the reference seeding its
    projections with ``mt19937 rng(0)``, src/e2lsh.cpp:50-57). Writing
    the draw to parquet (IEEE binary64, exact) lets the oracle SQL
    replay bucketing from first principles: bit_j = (v . plane_j > 0)
    resp. val_j = floor((v . a_j + b_j) / w). Idempotent: files are
    only written when absent; regeneration is byte-identical
    (tests/test_operators.py::test_ann_plane_fixtures_match_udf_draw
    gates parity against a fresh draw).

    Returns {"cosine": path, "pstable": path}.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if repo_dir is None:
        repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fdir = os.path.join(repo_dir, "fixtures")
    os.makedirs(fdir, exist_ok=True)
    out = {}

    # cosine family: ann_topk_lsh entry knobs (dim=64, bands=8 x r=4,
    # seed=42) -> 32 planes. plane_j = standard_normal((dim, n))[:, j].
    cos_path = os.path.join(fdir, "ann_cos_planes_seed42_d64_p32.parquet")
    if not os.path.exists(cos_path):
        rng = np.random.Generator(np.random.PCG64(42))
        planes = rng.standard_normal((64, 32))
        tbl = pa.table({
            "plane_id": pa.array(range(32), pa.int32()),
            "plane": pa.array([planes[:, j].tolist() for j in range(32)],
                              pa.list_(pa.float64())),
        })
        tmp = cos_path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, cos_path)
    out["cosine"] = cos_path

    # p-stable family: ann_topk_lsh_l2 entry knobs (dim=64, 8 x 4 fns,
    # seed=42, w=8.0): a = standard_normal((dim, n)), b = uniform(0, w, n)
    # -- the SAME ordered draws make_pstable_udf makes.
    ps_path = os.path.join(fdir, "ann_pstable_seed42_d64_p32_w8.parquet")
    if not os.path.exists(ps_path):
        rng = np.random.Generator(np.random.PCG64(42))
        a = rng.standard_normal((64, 32))
        b = rng.uniform(0.0, 8.0, size=32)
        tbl = pa.table({
            "fn_id": pa.array(range(32), pa.int32()),
            "a": pa.array([a[:, j].tolist() for j in range(32)],
                          pa.list_(pa.float64())),
            "b": pa.array(b.tolist(), pa.float64()),
        })
        tmp = ps_path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, ps_path)
    out["pstable"] = ps_path

    # cosine family, 64 funcs: the graph SEED stage's knobs
    # (graph_topk defaults: 8 bands x r=8, seed=42). NOT a prefix of
    # the 32-func draw — standard_normal fills row-major over
    # (dim, n_funcs), so each n_funcs is its own draw.
    cos64_path = os.path.join(fdir, "ann_cos_planes_seed42_d64_p64.parquet")
    if not os.path.exists(cos64_path):
        rng = np.random.Generator(np.random.PCG64(42))
        planes = rng.standard_normal((64, 64))
        tbl = pa.table({
            "plane_id": pa.array(range(64), pa.int32()),
            "plane": pa.array([planes[:, j].tolist() for j in range(64)],
                              pa.list_(pa.float64())),
        })
        tmp = cos64_path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, cos64_path)
    out["cosine64"] = cos64_path

    # sketch family: make_sketch_udf(dim=64, seed=42+9999) — the
    # graph search's 64-bit pre-prune sketch planes
    sk_path = os.path.join(fdir, "ann_sketch_planes_seed10041_d64.parquet")
    if not os.path.exists(sk_path):
        rng = np.random.Generator(np.random.PCG64(10041))
        planes = rng.standard_normal((64, 64))
        tbl = pa.table({
            "plane_id": pa.array(range(64), pa.int32()),
            "plane": pa.array([planes[:, j].tolist() for j in range(64)],
                              pa.list_(pa.float64())),
        })
        tmp = sk_path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, sk_path)
    out["sketch"] = sk_path
    return out
