"""Operator-level tests: ANN recall vs exact top-k (mirror of the
reference's recall evaluation, src/Query.cpp:9-67), SimHash near-dup,
multimodal plumbing, text stats sanity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.operators import ann, dedup, multimodal, textstats

CFG = DedupConfig()


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.Generator(np.random.PCG64(5))
    # clustered vectors so top-k has structure: 40 centers x 10 members
    centers = rng.standard_normal((40, 32))
    rows = []
    vid = 0
    for c in range(40):
        for _ in range(10):
            v = centers[c] + 0.15 * rng.standard_normal(32)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    return spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    ).localCheckpoint(eager=True)


def test_bruteforce_topk_finds_cluster_members(embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    top = ann.bruteforce_topk(q, embeddings, k=9)
    rows = top.collect()
    assert len(rows) == 45
    # neighbors of a clustered point should mostly share its label
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    same = sum(1 for r in rows
               if labels[r["query_id"]] == labels[r["neighbor_id"]])
    assert same / len(rows) > 0.9


def test_bruteforce_topk_l1_linf_match_numpy(embeddings):
    """The L1/Linf kernels (§2.2 P12, fvec_L1/Linf_avx512,
    src/distances_simd_avx512.h:29-40) must rank exactly like a
    float64 numpy reference on the clustered fixture."""
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in embeddings.collect()}
    q = embeddings.filter(F.col("vec_id") < 5)
    for metric, dist in (
        ("l1", lambda a, b: np.abs(a - b).sum()),
        ("linf", lambda a, b: np.abs(a - b).max()),
    ):
        top = ann.bruteforce_topk(q, embeddings, k=5, metric=metric)
        got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
               for r in top.collect()}
        assert len(got) == 25
        for qid in range(5):
            exact = sorted(
                ((dist(vecs[qid], v), nid) for nid, v in vecs.items()
                 if nid != qid))
            for rank in range(1, 6):
                d, nid = exact[rank - 1]
                got_nid, got_score = got[(qid, rank)]
                assert got_nid == nid
                assert abs(got_score - (-d)) < 1e-3


def test_lsh_topk_recall(embeddings):
    """Approximate top-k recall >= 0.9 vs exact on clustered data —
    the reference's headline metric shape (recall at fixed config).
    Multi-probe (leave-one-bit-out) lifts the old 0.8 bucket-only
    floor (VERDICT r1 item 3)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    stats: dict = {}
    approx = ann.lsh_topk(q, embeddings, k=5, dim=32,
                          bands=8, rows_per_band=4, seed=42,
                          num_probes=2, stats=stats)
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.9, f"ANN recall {rec:.3f}"
    assert stats["n_candidates"] > 0


def test_lsh_topk_band_shuffle_carries_no_vectors(embeddings):
    """The band-explode/bucket-join relations must be slim (id, bhash)
    rows — full vectors join back only after candidate dedup (VERDICT
    r1 'What's wrong' #2). Asserted on the slim bucket relation's
    schema: no array column rides the explode."""
    rows = ann._sign_bucket_rows(embeddings, "n", dim=32, bands=8,
                                 rows_per_band=4, seed=42, num_probes=2)
    kinds = [f.dataType.typeName() for f in rows.schema.fields]
    assert "array" not in kinds, rows.schema
    # explode factor = bands * (1 + probes)
    assert rows.count() == embeddings.count() * 8 * 3


def test_graph_topk_recall(embeddings):
    """The flagship APG path: LSH seeds + kNN-graph expansion must
    reach recall >= 0.95 vs brute force at fixed config — the regime
    the reference reports (0.9942, dataset/ANN/LSH-G_div_result.csv:2)
    which bucket-LSH alone cannot reach (VERDICT r1 item 1)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=10)
    stats: dict = {}
    approx = ann.graph_topk(q, embeddings, k=10, dim=32, T=12, ef=32,
                            rounds=4, seed=42, stats=stats)
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.95, f"graph ANN recall {rec:.3f}"
    # the graph search must do real expansion work, not just seeds
    assert stats["n_rounds"] >= 1
    # cost sanity: candidates verified is far below all-pairs
    n = embeddings.count()
    assert stats["n_candidates"] < 20 * n, stats


def test_graph_topk_beats_seed_only_recall(embeddings):
    """Graph refinement must IMPROVE on its own seed set (the paper's
    core claim: LSH seeds + graph beats LSH alone at equal config).
    Run both at a deliberately weak seed config (1 band) so the seeds
    are poor, then check the expansion recovers recall."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=10)
    # a well-built graph (index build = offline, like efC=80 builds),
    # searched with deliberately weak 1-band seeds (query-time budget)
    edges = ann.build_knn_graph(embeddings, T=12, dim=32, seed=42)
    weak = dict(dim=32, bands=1, rows_per_band=4, seed=42, num_probes=0)
    seeds_only = ann.lsh_topk(q, embeddings, k=10, **weak)
    refined = ann.graph_topk(q, embeddings, k=10, edges=edges, ef=32,
                             rounds=4, **weak)
    r_seed = ann.ann_recall(seeds_only, exact)
    r_graph = ann.ann_recall(refined, exact)
    assert r_graph > r_seed, (r_seed, r_graph)
    assert r_graph >= 0.9, f"refined recall {r_graph:.3f}"


def test_build_knn_graph_shape_and_stats(embeddings):
    """Edge table: out-degree <= T, no self-loops, deterministic; and
    graph_stats reports degrees + edge recall vs the exact kNN edges
    (maps showInfo, src/divGraph.h:1148-1231)."""
    edges = ann.build_knn_graph(embeddings, T=8, dim=32, seed=42)
    deg = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 8
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    again = ann.build_knn_graph(embeddings, T=8, dim=32, seed=42)
    assert sorted(map(tuple, edges.collect())) == \
        sorted(map(tuple, again.collect()))
    golden = ann.bruteforce_topk(embeddings.limit(50), embeddings, k=5)
    stats = ann.graph_stats(edges, golden=golden).collect()[0].asDict()
    assert stats["n_nodes"] == embeddings.count()
    assert stats["avg_degree"] <= 8
    assert 0.0 <= stats["edge_recall"] <= 1.0
    assert stats["edge_recall"] >= 0.8, stats


def test_ivf_index_save_load_prunes_partitions(embeddings, tmp_path):
    """Persisted IVF index (S5-S8 analogue): querying the saved index
    must (a) read only the probed cells' partitions — PartitionFilters
    in the scan — and (b) return exactly what the in-memory ivf_topk
    returns at the same seed."""
    path = str(tmp_path / "ivf")
    ann.save_ivf_index(embeddings, path, n_cells=32, seed=42)
    spark = embeddings.sparkSession
    q = embeddings.filter(F.col("vec_id") < 10)
    stats: dict = {}
    got = ann.ivf_index_topk(spark, path, q, k=5, nprobe=8, stats=stats)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert stats["cells_read"] <= 32
    mem = ann.ivf_topk(q, embeddings, k=5, n_cells=32, nprobe=8, seed=42)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, mem.collect()))


def test_ann_eval_metrics(embeddings):
    """ann_eval returns (recall, ratio, cost) — the reference CSV's
    RATIO/RECALL/COST triple (src/alg.h:122-130). Exact-vs-exact must
    give recall 1, ratio ~1; cost = candidates/(queries*corpus)."""
    q = embeddings.filter(F.col("vec_id") < 10)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    ev = ann.ann_eval(exact, exact, n_candidates=3990,
                      corpus_size=embeddings.count())
    assert ev["recall"] == 1.0
    assert abs(ev["ratio"] - 1.0) < 1e-6
    assert abs(ev["cost"] - 3990 / (10 * 400)) < 1e-6


def test_ivf_topk_recall_and_determinism(embeddings):
    """IVF probe path: recall >= 0.8 vs exact at nprobe=8/32 cells on
    clustered data, and the seeded quantizer makes reruns identical."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    approx = ann.ivf_topk(q, embeddings, k=5, n_cells=32, nprobe=8, seed=42)
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.8, f"IVF recall {rec:.3f}"
    again = ann.ivf_topk(q, embeddings, k=5, n_cells=32, nprobe=8, seed=42)
    assert sorted(map(tuple, approx.collect())) == \
        sorted(map(tuple, again.collect()))


def test_ivf_auto_calibration_selective_on_clustered(embeddings):
    """calibrate_ivf_knobs on clustered data must pick a probe budget
    far below the broad defaults (nprobe/n_cells = 1/2) while the
    auto-calibrated ivf_topk keeps recall: the runtime analogue of the
    reference's hand-tuned per-dataset knobs (src/basis.cpp:8-31)."""
    kn = ann.calibrate_ivf_knobs(embeddings, k=5)
    assert kn["calibrated"] is True
    assert kn["nprobe"] <= kn["n_cells"] // 4, kn
    assert kn["est_cost"] < 0.3, kn

    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    stats: dict = {}
    approx = ann.ivf_topk(q, embeddings, k=5, stats=stats)
    assert stats["calibrated"] is True
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.9, f"calibrated IVF recall {rec:.3f}"
    # deterministic given (corpus, seed)
    kn2 = ann.calibrate_ivf_knobs(embeddings, k=5)
    assert (kn2["n_cells"], kn2["nprobe"]) == (kn["n_cells"], kn["nprobe"])


def test_ivf_calibration_falls_back_on_tiny_corpus(embeddings):
    tiny = embeddings.filter(F.col("vec_id") < 40)
    kn = ann.calibrate_ivf_knobs(tiny, k=5)
    assert kn["calibrated"] is False
    assert (kn["n_cells"], kn["nprobe"]) == (32, 16)


def test_diversified_topk_rng_rule(spark):
    """Deterministic geometry for the RNG rule (chooseNN_div,
    src/divGraph.h:576-628): B sits right next to A (closer to A than
    to the query) -> B is pruned; C points the other way -> kept."""
    import math
    rows = [
        (0, [1.0, 0.0], 0),                                   # query
        (1, [math.cos(0.3), math.sin(0.3)], 0),               # A: nearest
        (2, [math.cos(0.35), math.sin(0.35)], 0),             # B: shadowed by A
        (3, [math.cos(-0.7), math.sin(-0.7)], 0),             # C: other side
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.filter(F.col("vec_id") == 0)
    out = ann.diversified_topk(q, df, k=3, pool_factor=1)
    kept = [r["neighbor_id"] for r in
            sorted(out.collect(), key=lambda r: r["rank"])]
    assert kept == [1, 3], kept


def test_diversified_topk_lsh_pool(embeddings):
    """pool='lsh' feeds the greedy RNG rule from bucketed candidates
    instead of the O(N*Q) exact scan (VERDICT r1 item 7) — and the
    plan must contain no cartesian/broadcast-nested-loop join."""
    q = embeddings.filter(F.col("vec_id") < 5)
    out = ann.diversified_topk(q, embeddings, k=5, pool="lsh", dim=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    assert 0 < len(rows) <= 25
    assert len({(r["query_id"], r["neighbor_id"]) for r in rows}) == len(rows)


def test_ivf_centroid_training_deterministic(embeddings):
    c1 = ann.train_ivf_centroids(embeddings, n_cells=8, iters=2, seed=7)
    c2 = ann.train_ivf_centroids(embeddings, n_cells=8, iters=2, seed=7)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 32)


def test_simhash_neardup_on_fixture(spark):
    from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
    from lsh_apg_spark.functions.hashing import with_simhash_md5
    fx = generate_pages(n_docs=120, seed=3)
    pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)
    sigs = with_simhash_md5(pages.select("url", "text"), "text",
                            k=CFG.shingle_size).select("url", "simhash")
    pairs = dedup.simhash_neardup_pairs(sigs, CFG)
    found = {(r["a"], r["b"]) for r in pairs.collect()}
    # exact duplicates have hamming 0 → must all be found
    for grp in fx.exact_groups:
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                p = (min(grp[i], grp[j]), max(grp[i], grp[j]))
                assert p in found, f"exact-dup pair {p} missing"


def _simhash_md5_py(text: str, k: int) -> int:
    """Pure-Python twin of functions/hashing.py:with_simhash_md5 —
    pins the JVM higher-order-function pipeline bit-for-bit (guards
    the staged-lambda rules; see the nested-lambda pitfall note in the
    operator docstring). Bit-for-bit holds because BOTH sides drop
    empty split pieces (Java split keeps leading/trailing empties with
    limit -1; the operator array_removes them, so Python .split()'s
    drop-all-empties matches) — exercised below by the leading/
    trailing-\\n/\\t texts."""
    import hashlib
    toks = (text or "").strip().lower().split()
    if len(toks) >= k:
        sh = {"\x1f".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    else:
        sh = {"\x1f".join(toks)}
    votes = [0] * 64
    for s in sh:
        v = int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
        for j in range(64):
            votes[j] += (v >> (63 - j)) & 1
    val = 0
    for j in range(64):
        if votes[j] * 2 >= len(sh):
            val |= 1 << (63 - j)
    return val - (1 << 64) if val >= 1 << 63 else val


def test_simhash_md5_matches_python(spark):
    from lsh_apg_spark.functions.hashing import with_simhash_md5
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "",
        "one",
        "one two",
        "hello hello hello hello",
        "Mixed CASE Text  with   extra   spaces and repeated words "
        "repeated words",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        None,
        # leading/trailing non-space whitespace: Java split(limit=-1)
        # would keep empty pieces that Python .split() drops — the
        # operator's array_remove makes the two agree (review finding)
        "trailing newline text here\n",
        "\n\tleading whitespace text",
        "both sides\t\n",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in with_simhash_md5(df, "text", k=3).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _simhash_md5_py(t or "", 3), f"doc {i}: {t!r}"


def test_cosine_neardup_bucketed_equals_exact(embeddings):
    """The shipped bucketed cosine_neardup_pairs must reproduce the
    all-pairs exact oracle (VERDICT r1 item 4) — and its plan must
    contain no cartesian product."""
    got = dedup.cosine_neardup_pairs(embeddings, 0.5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = dedup.cosine_allpairs_exact(embeddings, 0.5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exact.collect()))


def test_cosine_neardup_selective_at_high_threshold(spark):
    """At a realistic near-dup threshold the banding prunes: planted
    cosine~0.95 pairs in a random corpus, r=8/bands=16 finds them all
    while verifying a small fraction of all pairs."""
    from lsh_apg_spark.operators.ann import _sign_bucket_rows
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((200, 64))
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(200)]
    for j in range(20):  # planted near-dups of vectors 0..19
        v = base[j] + 0.12 * rng.standard_normal(64)
        rows.append((200 + j, [float(x) for x in v], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int") \
        .localCheckpoint(eager=True)
    cfg = dict(bands=16, rows_per_band=8, num_probes=1)
    got = dedup.cosine_neardup_pairs(df, 0.85, **cfg)
    exact = dedup.cosine_allpairs_exact(df, 0.85)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exact.collect()))
    assert exact.count() >= 20  # the planted pairs are really there
    b = _sign_bucket_rows(df, "n", 64, 16, 8, 42, 1)
    arr = b.groupBy("bhash").agg(F.collect_list("n_id").alias("ids")) \
        .filter(F.size("ids") >= 2)
    cands = (
        arr.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"]).count()
    )
    n = df.count()
    assert cands / (n * (n - 1) / 2) < 0.2, cands


def test_normalize_text_planted(spark):
    """textnorm.normalize_text on deliberately dirty inputs: NFC
    composition, CRLF/CR, control bytes, trailing line whitespace,
    blank-line runs, padding, NULL passthrough, idempotence — and the
    DuckDB oracle chain (generated from the same CLEANUP_RULES) must
    reproduce every byte, which the clean driver corpus can't
    exercise."""
    import duckdb

    from __spark_entry__ import _textnorm_oracle_sql
    from lsh_apg_spark.operators.textnorm import normalize_text

    rows = [
        (1, "cafe\u0301 e\u0301"),   # decomposed -> NFC composes
        (2, "a\r\nb\rc"),                 # CRLF + bare CR
        (3, "x\x00y\x07z\x7f"),           # control bytes stripped
        (4, "line  \t\nnext"),            # trailing line whitespace
        (5, "a\n\n\n\n\nb"),              # blank-line run -> one blank
        (6, "  padded\t "),               # leading/trailing ws
        (7, "clean text"),                # untouched
        (8, None),                        # NULL passthrough
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = normalize_text(df)
    got = {r["doc_id"]: (r["text"], r["changed"]) for r in out.collect()}
    assert got[1] == ("caf\u00e9 \u00e9", True)
    assert got[2] == ("a\nb\nc", True)
    assert got[3] == ("xyz", True)
    assert got[4] == ("line\nnext", True)
    assert got[5] == ("a\n\nb", True)
    assert got[6] == ("padded", True)
    assert got[7] == ("clean text", False)
    assert got[8] == (None, False)
    # idempotent: a second pass changes nothing
    twice = normalize_text(out.select("doc_id", "text"))
    assert all(not r["changed"] for r in twice.collect())
    # the DuckDB oracle chain reproduces every byte on the dirty rows
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {r[0]: (r[1], r[2])
              for r in con.execute(_textnorm_oracle_sql()).fetchall()}
    assert oracle == got


def test_cross_engine_fuzz_textnorm_and_tokens(spark):
    """Seeded 300-string adversarial corpus (controls incl. NUL and
    \\x0b, the U+2028/U+2029/U+0085 line terminators whose Java-$
    semantics bit in review, CR/LF mixes, composed AND decomposed
    accents) — Spark and the DuckDB oracles must agree byte-for-byte
    on normalize_text, on the whitespace token counts and on the word
    3-shingles of the brute-force Jaccard oracle. One Spark job + one
    DuckDB query per surface: a 300-case regression fence around the
    Java-vs-RE2 regex divergence class, plus a planted vertical-tab
    document whose \\x0b only Java's \\s treats as whitespace."""
    import random

    import duckdb

    from __spark_entry__ import (_SHINGLES_CTE, _textnorm_oracle_sql,
                                 oracle_sql)
    from lsh_apg_spark.operators.textnorm import normalize_text

    alphabet = (list("ab c.\t\n\r語") +
                ["\x00", "\x07", "\x0b", "\x7f", "\u2028", "\u2029",
                 "\x85", "e\u0301", "\u00e9", "  ", " \t", "\r\n",
                 "\n\n\n", " \n ", "A\u030a"])
    rng = random.Random(42)
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 40))))
            for i in range(300)]
    rows.append((300, "alpha\x0bbeta gamma delta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_norm = {r["doc_id"]: (r["text"], r["changed"])
                for r in normalize_text(df).collect()}
    got_toks = {r["doc_id"]: r["token_count"]
                for r in textstats.token_stats(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    o_norm = {r[0]: (r[1], r[2])
              for r in con.execute(_textnorm_oracle_sql()).fetchall()}
    assert o_norm == got_norm
    o_toks = {r[0]: r[1]
              for r in con.execute(oracle_sql()["token_stats"]).fetchall()}
    assert o_toks == got_toks
    got_sh = {(r["doc_id"], r["shingle"])
              for r in dedup.shingle_rows(df, 3).collect()}
    o_sh = set(con.execute(
        "WITH " + _SHINGLES_CTE + " SELECT doc_id, shingle FROM sh"
    ).fetchall())
    assert o_sh == got_sh
    assert {s for d, s in got_sh if d == 300} == {
        "alpha beta gamma", "beta gamma delta"}


def test_cross_engine_fuzz_url_canonicalizer(spark):
    """Seeded 240-URL adversarial fuzz over the canonicalizer chain
    (mixed-case schemes/hosts incl. Cyrillic, stacked www, default and
    non-default ports, slash runs, tracking params in every position,
    degenerate queries/fragments, NULL and schemeless inputs): Spark's
    canonicalize_url and the DuckDB _URL_CANON_CTES twin must agree
    byte-for-byte — the same regression fence the textnorm fuzz
    provides, for the other big Java-vs-RE2 regexp chain."""
    import random

    import duckdb

    from __spark_entry__ import _URL_CANON_CTES
    from lsh_apg_spark.operators.urlnorm import canonicalize_url

    rng = random.Random(7)
    schemes = ["http", "https", "HTTP", "HtTpS", "ftp", ""]
    wwws = ["", "www.", "WWW.", "www.www."]
    hosts = ["Example.COM", "a.b.c", "xn--bcher-kva.de", "host",
             "\u042f\u0417\u042b\u041a\u0418.\u0440\u0444"]
    ports = ["", ":80", ":443", ":8080", ":00080"]
    paths = ["", "/", "/A/b", "/a/b/", "/a//b///", "/%7Euser",
             "/caf\u00e9"]
    queries = ["", "?", "?a=1", "?b=2&a=1", "?utm_source=x",
               "?a=1&utm_medium=y&b=2", "?fbclid=z", "?ref=abc&ref=def",
               "?a=?&b=/", "?utm_x=1&utm_x=2", "?a=1&&b=2", "?=", "?a",
               "?gclid=1&a=2"]
    frags = ["", "#", "#frag", "#a?b=1"]
    rows = []
    for i in range(240):
        u = ((rng.choice(schemes) + "://" if rng.random() < 0.9 else "")
             + rng.choice(wwws) + rng.choice(hosts) + rng.choice(ports)
             + rng.choice(paths) + rng.choice(queries) + rng.choice(frags))
        rows.append((i, u))
    rows += [(900, None), (901, "no scheme here"), (902, ""), (903, "://"),
             (904, "http://"), (905, "http:///path"),
             (906, "a+b-c.d://Host/x")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["c"]
           for r in df.select("doc_id",
                              canonicalize_url("url").alias("c")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE urls(doc_id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?, ?)", rows)
    sql = ("WITH raw AS (SELECT doc_id, url FROM urls), "
           + _URL_CANON_CTES
           + " SELECT doc_id, canonical_url FROM c ORDER BY doc_id")
    oracle = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert oracle == got


def test_cross_engine_fuzz_pii_scrub(spark):
    """Seeded 250-text adversarial fuzz over the PII chain: random
    assemblies of real emails/phones, near-misses (missing TLD, bad
    digit groups), boundary-adjacent unicode and underscores (the \\b
    \\w-definition edge), punctuation runs. Spark pii_scrub and a
    DuckDB replay built from the SAME frozen EMAIL_RE/PHONE_RE must
    agree on counts and redacted bytes."""
    import random

    import duckdb

    from lsh_apg_spark.operators.pii import EMAIL_RE, PHONE_RE, pii_scrub

    frags = ["text ", "a.b@c.de", "x@y", "user+tag@mail.example.org",
             "@example.com", "no_at", "123-4567", "555 1234", "12-3456",
             "1234.5678", "123. 4567", "ё", "é", "_", "9", ".",
             "-", " ", "(", "\n", "word", "ABC@DEF.GH", "a@b.c.", "--",
             "%+-@x.yz", "000-0000000", "x123-4567y", "_123-4567_"]
    rng = random.Random(13)
    rows = [(i, "".join(rng.choice(frags)
                        for _ in range(rng.randint(0, 12))))
            for i in range(250)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_phones"], r["clean_text"])
           for r in pii_scrub(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = {r[0]: (r[1], r[2], r[3]) for r in con.execute(f"""
        WITH s AS (
            SELECT doc_id, text,
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g')
                       AS no_email
            FROM t
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(no_email, '{PHONE_RE}')) AS n_phones,
               regexp_replace(no_email, '{PHONE_RE}', '<PHONE>', 'g')
                   AS clean_text
        FROM s ORDER BY doc_id
    """).fetchall()}
    assert oracle == got


def test_pack_sequences_contract(spark):
    """packing.pack_sequences (next-fit into a token budget): the
    budget is never exceeded except by a lone oversize document, seq
    ids are contiguous from 0 within each shard, the result is
    independent of input partitioning, and packed_sequence_stats
    reproduces the fill audit."""
    import pytest as _pytest

    from lsh_apg_spark.operators.packing import (pack_sequences,
                                                 packed_sequence_stats)

    rows = [(i, " ".join(["tok"] * (5 + (i * 37) % 90)))
            for i in range(150)]
    rows.append((900, " ".join(["tok"] * 500)))  # oversize: > budget
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=100, n_shards=4)
    got = sorted(map(tuple, out.collect()))
    # deterministic under arbitrary input partitioning
    got2 = sorted(map(tuple, pack_sequences(
        docs.repartition(7), budget=100, n_shards=4).collect()))
    assert got == got2
    assert len(got) == 151
    by_doc = {r[0]: r for r in got}
    assert by_doc[3][3] == 5 + (3 * 37) % 90  # token counts carried
    fills: dict = {}
    for doc_id, shard, seq, nt in got:
        fills.setdefault((shard, seq), []).append(nt)
    for (shard, seq), toks in fills.items():
        assert sum(toks) <= 100 or len(toks) == 1, (shard, seq, toks)
    # the oversize doc sits alone in its sequence
    o = by_doc[900]
    assert fills[(o[1], o[2])] == [500]
    # per shard: seqs contiguous from 0
    per_shard: dict = {}
    for shard, seq in fills:
        per_shard.setdefault(shard, set()).add(seq)
    for shard, seqs in per_shard.items():
        assert seqs == set(range(max(seqs) + 1)), (shard, seqs)
    st = {(r["shard"], r["seq"]): (r["n_docs"], r["fill_tokens"])
          for r in packed_sequence_stats(out, budget=100).collect()}
    assert st == {k: (len(v), sum(v)) for k, v in fills.items()}
    with _pytest.raises(ValueError):
        pack_sequences(docs, budget=0)
    # non-long ids keep their type through the grouped pandas stage
    sdocs = spark.createDataFrame([(f"d{i}", t) for i, t in rows],
                                  "doc_id string, text string")
    sout = pack_sequences(sdocs, budget=100, n_shards=4)
    assert sout.schema["doc_id"].dataType.simpleString() == "string"
    assert sorted(r["doc_id"] for r in sout.collect()) == \
        sorted(f"d{i}" for i, _ in rows)


def test_semdedup_matches_reference_rule(spark):
    """dedup.semdedup (SemDeDup, arXiv:2303.09540) must reproduce a
    pure-numpy replay of its own contract — same quantizer
    (train_ivf_centroids), argmax cell assignment, within-cell pairs
    above tau, keep-low-centroid dominance with id tie-break — over a
    corpus with planted near-identical duplicates. Also checks the
    pair expansion never degenerates to a cartesian plan and that the
    stats out-param reports the cell histogram."""
    from lsh_apg_spark.operators.ann import train_ivf_centroids

    rng = np.random.Generator(np.random.PCG64(7))
    base = rng.standard_normal((120, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    for j in range(10):  # planted semantic dups of vectors 0..9
        v = base[j] + 0.01 * rng.standard_normal(16)
        rows.append((200 + j, [float(x) for x in v]))
    # a zero vector scores cosine 0 against everything (floored norm),
    # never NaN; its id is outside the seeded centroid draw
    rows.append((300, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .localCheckpoint(eager=True)

    stats: dict = {}
    out = dedup.semdedup(df, tau=0.9, n_cells=8, iters=2, seed=3,
                         stats=stats)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {r["vec_id"]: (r["cell"], r["keep"]) for r in out.collect()}

    # independent replay: same centroids, numpy everything-else
    cent = train_ivf_centroids(df, 8, iters=2, seed=3)
    ids = [r[0] for r in rows]
    vecs = np.array([np.array(r[1], dtype=np.float32) for r in rows],
                    dtype=np.float64)
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    vn = vecs / np.maximum(
        np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    sims = vn @ cn.T
    cells = np.argmax(sims, axis=1)
    csim = sims[np.arange(len(ids)), cells]
    nrm = np.linalg.norm(vecs, axis=1)
    losers: set[int] = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cells[i] == cells[j]:
                c = float(vecs[i] @ vecs[j]) / max(
                    float(nrm[i] * nrm[j]), 1e-12)
                if c > 0.9:
                    ki, kj = (csim[i], ids[i]), (csim[j], ids[j])
                    losers.add(ids[j] if ki < kj else ids[i])
    assert len(losers) >= 8  # the planted groups really collapse
    exp = {ids[i]: (int(cells[i]), ids[i] not in losers)
           for i in range(len(ids))}
    assert got == exp
    assert stats["max_cell_size"] >= 2
    assert stats["n_nonempty_cells"] <= 8

    # n_cells=None sizes by the IVF sqrt rule: 131 rows -> 16 cells
    auto = dedup.semdedup(df, tau=0.9, iters=2, seed=3)
    exp16 = dedup.semdedup(df, tau=0.9, n_cells=16, iters=2, seed=3)
    assert sorted(map(tuple, auto.collect())) == \
        sorted(map(tuple, exp16.collect()))

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    e_out = dedup.semdedup(empty, tau=0.9, n_cells=4)
    assert e_out.count() == 0
    assert e_out.columns == ["vec_id", "cell", "keep"]


def test_cosine_neardup_explicit_dim_and_empty_input(spark, embeddings):
    """ADVICE r2: an explicit dim must skip the driver-side probe job
    and produce identical results; an empty input must yield an empty
    pair frame instead of a TypeError from first()."""
    with_dim = dedup.cosine_neardup_pairs(embeddings, 0.5, dim=32)
    inferred = dedup.cosine_neardup_pairs(embeddings, 0.5)
    assert sorted(map(tuple, with_dim.collect())) == \
        sorted(map(tuple, inferred.collect()))

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    out = dedup.cosine_neardup_pairs(empty, 0.5)
    assert out.count() == 0
    assert out.columns == ["a", "b", "cosine"]


def test_exact_dedup_matches_cc_variant(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y"), (3, "x y"), (4, "solo"),
         (17, "a b c")],
        "doc_id long, text string")
    d1 = {(r["doc_id"], r["canonical_id"])
          for r in dedup.exact_dedup(docs).collect()}
    d2 = {(r["doc_id"], r["canonical_id"])
          for r in dedup.exact_dedup_clusters(docs).collect()}
    assert d1 == d2 == {(0, 0), (1, 0), (17, 0), (2, 2), (3, 2), (4, 4)}


def test_multimodal_feature_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", 64, 64, None),
        (2, "audio", b"RIFF fake wav", None, None, 1200),
        (3, "image", None, 0, 0, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_features(media, dim=8).collect()
    assert {r["id"] for r in out} == {1, 2, 3}
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["n_bytes"] == len(b"\x89PNG fake bytes")
    assert by_id[3]["n_bytes"] == 0
    assert all(len(r["feature"]) == 8 for r in out)
    # deterministic: same payload → same feature
    out2 = multimodal.extract_features(media, dim=8).collect()
    assert {tuple(r["feature"]) for r in out} == {tuple(r["feature"]) for r in out2}


def test_multimodal_stub_gate(spark):
    media = spark.createDataFrame(
        [(1, "image", b"x", 1, 1, None)], multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        multimodal.extract_features(media, decode_stub=False).collect()


def test_textstats_sanity(spark):
    docs = spark.createDataFrame(
        [(1, "The quick brown fox and the lazy dog", "en", "s", 37),
         (2, "der hund und die katze ist nicht da", "de", "s", 35)],
        "doc_id long, text string, lang string, source string, n_chars long")
    ts = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert ts[1]["token_count"] == 8
    assert ts[1]["distinct_tokens"] == 7  # 'the' twice after lowering
    li = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert li[1] == "en" and li[2] == "de"


def test_quality_filter_rules(spark):
    good = ("the quick brown fox jumps over a lazy dog and then it "
            "runs far away for that is what foxes do in the wild")
    docs = spark.createDataFrame(
        [(1, good),                          # passes every rule
         (2, "the of and is"),               # too few tokens
         (3, "the supercalifragilistic " * 10 + "of extraordinarily "
             "incomprehensibilities appear"),  # long mean token length
         (4, "0 1 2 3 4 5 6 7 8 9 " * 2),    # no alpha, no stopwords
         (5, ("the cat sat on a mat " * 6))],  # repetitive bigrams
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.quality_filter(
        docs, min_tokens=8, max_dup_bigram_frac=0.5).collect()}
    assert out[1]["keep"] and out[1]["reasons"] == ""
    assert "too_few_tokens" in out[2]["reasons"]
    assert "mean_token_len_out_of_band" in out[3]["reasons"]
    assert "low_alpha_ratio" in out[4]["reasons"]
    assert "low_stopword_ratio" in out[4]["reasons"]
    assert "repetitive_bigrams" in out[5]["reasons"]
    assert not out[5]["keep"]


def test_ngram_repetition_hand_computed(spark):
    # doc 1: tokens [a b a b a] -> bigrams [a b, b a, a b, b a]:
    #   4 total, 2 distinct, dup_frac 0.5, top count 2 -> top_frac 0.5
    # doc 2: all-distinct bigrams -> dup 0, top 1/3
    # doc 3: single token -> zero bigrams, fractions 0
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "w x y z"), (3, "solo")],
        "doc_id long, text string")
    r = {x["doc_id"]: x for x in
         textstats.ngram_repetition(docs, n=2).collect()}
    assert (r[1]["n_ngrams"], r[1]["n_distinct"]) == (4, 2)
    assert r[1]["dup_frac"] == 0.5 and r[1]["top_frac"] == 0.5
    assert r[2]["dup_frac"] == 0.0 and r[2]["top_frac"] == round(1 / 3, 4)
    assert (r[3]["n_ngrams"], r[3]["dup_frac"], r[3]["top_frac"]) == (0, 0.0, 0.0)


def test_top_ngrams_counts_and_order(spark):
    docs = spark.createDataFrame(
        [(1, "cookie notice here cookie notice here"),
         (2, "cookie notice here plus unique tail"),
         (3, "totally different words entirely")],
        "doc_id long, text string")
    top = textstats.top_ngrams(docs, n=3, k=3).collect()
    assert top[0]["ngram"] == "cookie notice here"
    assert top[0]["n_occurrences"] == 3 and top[0]["n_docs"] == 2
    # ties broken by ngram asc
    occs = [t["n_occurrences"] for t in top]
    assert occs == sorted(occs, reverse=True)


def test_line_dedup_multiline_first_occurrence(spark):
    from lsh_apg_spark.operators import linedup
    # boilerplate line B appears in docs 1,2,3; doc 3 is ONLY
    # boilerplate and must disappear; blank lines never count
    docs = spark.createDataFrame(
        [(1, "B\nunique one\nB"),     # first B (pos 0) wins; second B in
                                       # the SAME doc is also a repeat
         (2, "unique two\nB\n\nunique three"),
         (3, "B")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in linedup.line_dedup(docs).collect()}
    assert out[1]["text"] == "B\nunique one"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 1)
    assert out[2]["text"] == "unique two\nunique three"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (2, 1)
    assert 3 not in out  # fully-boilerplate doc removed


def test_line_dedup_metacharacter_delimiter(spark):
    from lsh_apg_spark.operators import linedup
    # delim is a LITERAL: a regex-metacharacter separator must split on
    # the character itself, not on the regex it happens to spell ("|"
    # as a regex splits between EVERY character; "." matches anything)
    docs = spark.createDataFrame(
        [(1, "alpha|beta|alpha"), (2, "beta|gamma")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           linedup.line_dedup(docs, delim="|").collect()}
    assert out[1]["text"] == "alpha|beta"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 1)
    assert out[2]["text"] == "gamma"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)


def test_canonicalize_url_cases(spark):
    from lsh_apg_spark.operators import urlnorm
    cases = [
        # the four messy spellings the url_dedup driver entry derives
        ("https://Example.COM/docs/7?utm_source=feed",
         "https://example.com/docs/7"),
        ("HTTPS://www.example.com:443/docs/7", "https://example.com/docs/7"),
        ("https://example.com/docs/7/#section-2",
         "https://example.com/docs/7"),
        ("https://example.com/docs/7?utm_campaign=x&utm_source=y",
         "https://example.com/docs/7"),
        # rule interactions
        ("http://www.example.com:80/a?id=3&utm_medium=m&q=2#frag",
         "http://example.com/a?id=3&q=2"),
        ("https://example.com:8443/a/", "https://example.com:8443/a"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a?fbclid=abc", "https://example.com/a"),
        ("https://example.com/a?ref=x&id=1", "https://example.com/a?id=1"),
        ("not a url", "not a url"),  # no scheme -> passthrough
        # component isolation (the first canonicalizer leaked rules
        # across component boundaries — each of these reproduced a bug):
        # default-port strip is scheme-conditional
        ("https://example.com:80/x", "https://example.com:80/x"),
        ("http://example.com:443/x", "http://example.com:443/x"),
        # a literal '?' inside a query VALUE is data, not a new query
        ("https://example.com/search?utm_source=a&q=foo?ref=bar&x=1",
         "https://example.com/search?q=foo?ref=bar&x=1"),
        # trailing slash collapses on the PATH even with a query...
        ("https://example.com/docs/?id=1", "https://example.com/docs?id=1"),
        # ...but never inside a query value
        ("https://example.com/a?id=v/", "https://example.com/a?id=v/"),
        # query params sort (same page whatever the param order)...
        ("https://example.com/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
        ("https://example.com/a?b=2&utm_source=s&a=1",
         "https://example.com/a?a=1&b=2"),
        # ...and sorting runs AFTER tracking-param stripping, so a
        # tracking param never survives by being sorted to the front
        ("https://example.com/a?ref=x&a=1", "https://example.com/a?a=1"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    for r in df.select("url", "expected",
                       urlnorm.canonicalize_url("url").alias("c")).collect():
        assert r["c"] == r["expected"], (r["url"], r["c"])
    # idempotence: canonical output re-canonicalizes to itself
    for r in df.select(
            urlnorm.canonicalize_url("url").alias("c1"),
            urlnorm.canonicalize_url(
                urlnorm.canonicalize_url("url")).alias("c2")).collect():
        assert r["c1"] == r["c2"], r


def test_url_dedup_keep_first(spark):
    from lsh_apg_spark.operators import urlnorm
    pages = spark.createDataFrame(
        [(1, "https://A.com/x?utm_source=s"), (2, "https://a.com/x"),
         (3, "HTTP://www.a.com:80/x/"), (4, "https://a.com/y"),
         (5, None)],
        "doc_id long, url string")
    out = {r["doc_id"]: r for r in urlnorm.url_dedup(pages).collect()}
    assert len(out) == 5              # NULL-url rows are never dropped
    assert out[1]["keep"] is True     # smallest doc_id of the https group
    assert out[2]["keep"] is False    # recrawl of doc 1's canonical form
    assert out[3]["keep"] is True     # http != https: a distinct page
    assert out[4]["keep"] is True
    assert out[5]["keep"] is True     # no address -> no dedup basis
    assert out[5]["canonical_url"] is None
    assert out[1]["canonical_url"] == out[2]["canonical_url"] \
        == "https://a.com/x"
    assert out[3]["canonical_url"] == "http://a.com/x"


def test_url_dedup_keep_latest(spark):
    from lsh_apg_spark.operators import urlnorm
    pages = spark.createDataFrame(
        [(1, "https://a.com/x", "2024-03-01 00:00:00"),
         (2, "https://A.com/x?utm_source=s", "2024-05-01 00:00:00"),
         (3, "https://www.a.com/x", "2024-05-01 00:00:00"),   # ts tie
         (4, "https://a.com/y", None),                        # lone NULL ts
         (5, "https://a.com/z", None),
         (6, "https://a.com/z", "2020-01-01 00:00:00"),       # beats NULL
         (7, None, "2024-01-01 00:00:00")],
        "doc_id long, url string, warc_ts string")
    pages = pages.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = {r["doc_id"]: r["keep"]
           for r in urlnorm.url_dedup(pages, keep="latest").collect()}
    assert out == {1: False, 2: True, 3: False,  # newest wins, min-id tie
                   4: True,                      # all-NULL group keeps min id
                   5: False, 6: True,            # any ts beats NULL
                   7: True}                      # NULL url passes through


def test_url_dedup_keep_latest_string_id(spark):
    """ADVICE r4 (urlnorm.py:126): the engine's natural page key is a
    STRING url/id — keep='latest' must not numerically negate the id
    (ANSI mode throws CAST_INVALID_INPUT on strings; non-ANSI would
    silently keep nothing). Tie-break = lexicographic MIN id among the
    newest-timestamp rows."""
    from lsh_apg_spark.operators import urlnorm
    pages = spark.createDataFrame(
        [("b", "https://a.com/x", "2024-03-01 00:00:00"),
         ("a", "https://A.com/x?utm_source=s", "2024-05-01 00:00:00"),
         ("c", "https://www.a.com/x", "2024-05-01 00:00:00"),  # ts tie
         ("d", "https://a.com/y", None),
         ("e", None, "2024-01-01 00:00:00")],
        "page_key string, url string, warc_ts string")
    pages = pages.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = {r["page_key"]: r["keep"]
           for r in urlnorm.url_dedup(
               pages, keep="latest", id_col="page_key").collect()}
    assert out == {"a": True, "b": False, "c": False,  # min-id ts tie
                   "d": True,                          # lone NULL ts
                   "e": True}                          # NULL url passes
    # keep='first' with string ids: lexicographic min id wins
    first = {r["page_key"]: r["keep"]
             for r in urlnorm.url_dedup(
                 pages, id_col="page_key").collect()}
    assert first == {"a": True, "b": False, "c": False,
                     "d": True, "e": True}


def test_domain_sample_null_id_hostless_rows_all_pass(spark):
    """ADVICE r4 (urlnorm.py:218): NULL-id hostless rows must each get
    their own sentinel partition (a NULL concat would pool them into
    one window and quota-drop some), so ALL pass through un-ranked."""
    from lsh_apg_spark.operators import urlnorm
    rows = [(float(i), f"https://a.com/p{i}") for i in range(4)]
    rows += [(None, None)] * 5          # NULL id AND NULL url
    rows += [(99.0, None)]              # non-NULL id, NULL url
    pages = spark.createDataFrame(rows, "doc_id double, url string")
    out = urlnorm.domain_sample(pages, quota=2).collect()
    hostless = [r for r in out if r["host"] == ""]
    assert len(hostless) == 6, out      # every hostless row survives
    assert all(r["rank"] is None for r in hostless)
    assert sum(1 for r in out if r["host"] == "a.com") == 2


def test_pii_scrub_counts_and_redaction(spark):
    from lsh_apg_spark.operators import pii
    docs = spark.createDataFrame(
        [(1, "mail jo.smith+x@sub.example.co.uk or bob@x.io thanks"),
         (2, "call 555-0123 or 555 0199."),
         (3, "reach 555-0123@x.com by mail"),
         (4, "no pii here 123456789 5550123"),
         (5, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii.pii_scrub(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (2, 0)
    assert out[1]["clean_text"] == "mail <EMAIL> or <EMAIL> thanks"
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 2)
    assert out[2]["clean_text"] == "call <PHONE> or <PHONE>."
    # a phone-shaped local part is an EMAIL: the staged passes redact
    # it whole and the phone pass sees nothing afterwards
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 0)
    assert out[3]["clean_text"] == "reach <EMAIL> by mail"
    # digit runs without a separator are not phones
    assert (out[4]["n_emails"], out[4]["n_phones"]) == (0, 0)
    assert out[4]["clean_text"] == "no pii here 123456789 5550123"
    assert out[5]["clean_text"] == ""


def test_domain_stats_per_host(spark):
    from lsh_apg_spark.operators import urlnorm
    pages = spark.createDataFrame(
        [(1, "https://A.com/x?utm_source=s"), (2, "https://a.com/x"),
         (3, "https://a.com/y"), (4, "HTTP://www.b.org:80/p/"),
         (5, "http://b.org/p"), (6, None), (7, None)],
        "doc_id long, url string")
    out = {r["host"]: r for r in urlnorm.domain_stats(pages).collect()}
    assert set(out) == {"a.com", "b.org", ""}
    # doc 1 and 2 are recrawls of one page; doc 3 is distinct
    assert (out["a.com"]["n_pages"], out["a.com"]["n_unique_pages"]) == (3, 2)
    assert abs(out["a.com"]["dup_ratio"] - 0.3333) < 1e-9
    assert (out["b.org"]["n_pages"], out["b.org"]["n_unique_pages"]) == (2, 1)
    assert out["b.org"]["dup_ratio"] == 0.5
    # NULL urls: profiled under host = '', each one unique (unknown
    # addresses are never duplicates of each other)
    assert (out[""]["n_pages"], out[""]["n_unique_pages"]) == (2, 2)
    assert out[""]["dup_ratio"] == 0.0


def test_extract_verify_byte_identity(spark):
    from lsh_apg_spark.operators import extract
    pages = spark.createDataFrame(
        [(1, bytearray(b"<html><body>hello world</body></html>"),
          "hello world"),
         (2, bytearray(b"<html><body>stored text drifted</body></html>"),
          "stored text"),
         (3, None, "unverifiable"),
         (4, bytearray(b"<html><body></body></html>"), "")],
        "doc_id long, html binary, text string")
    out = {r["doc_id"]: r["ok"]
           for r in extract.verify_extraction(pages).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True}


def test_unigram_lm_score_and_buckets(spark):
    from lsh_apg_spark.operators import lm
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ate the cat"),
         (3, "zx qq zz unseen junk"), (4, "the the the the")],
        "doc_id long, text string")
    m = {r["token"]: r for r in lm.train_unigram_lm(docs).collect()}
    # 20 token occurrences, 12 distinct: add-one smoothing over T+V=32
    assert len(m) == 12
    t = m["the"]
    assert abs(t["logp"] - np.log(9 / 32)) < 1e-12     # c=8 -> (8+1)/32
    assert abs(t["oov_logp"] - np.log(1 / 32)) < 1e-12
    assert m["cat"]["logp"] > m["sat"]["logp"]         # c=2 beats c=1
    sc = {r["doc_id"]: r for r in lm.lm_score(docs, lm.train_unigram_lm(
        docs)).collect()}
    assert sc[1]["n_tokens"] == 6
    # all-stopword doc scores highest, all-rare doc lowest
    assert sc[4]["avg_logp"] == round(float(np.log(9 / 32)), 4)
    assert sc[3]["avg_logp"] < sc[1]["avg_logp"] < sc[4]["avg_logp"]
    # OOV floor: a doc of unseen-at-train tokens scores oov_logp
    q = spark.createDataFrame([(9, "wholly novel words")],
                              "doc_id long, text string")
    sq = lm.lm_score(q, lm.train_unigram_lm(docs)).collect()[0]
    assert sq["avg_logp"] == round(float(np.log(1 / 32)), 4)
    buckets = {r["doc_id"]: r["bucket"] for r in lm.lm_quality_buckets(
        lm.lm_score(docs, lm.train_unigram_lm(docs))).collect()}
    assert buckets[4] == "head" and buckets[3] == "tail"
    assert set(buckets.values()) <= {"head", "middle", "tail"}


def test_line_dedup_invariants_seeded_corpus(spark):
    from lsh_apg_spark.operators import linedup
    # 60 docs drawing 1-8 lines from a 25-line pool -> heavy cross-doc
    # repetition; check the global invariants of keep-first dedup
    rng = np.random.Generator(np.random.PCG64(7))
    pool = [f"line {i} body" for i in range(25)]
    rows = []
    for d in range(60):
        k = int(rng.integers(1, 9))
        rows.append((d, "\n".join(
            pool[int(i)] for i in rng.integers(0, len(pool), k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = linedup.line_dedup(docs).collect()

    # every distinct line of the corpus survives exactly once, corpus-wide
    seen: list[str] = []
    for r in out:
        seen.extend(r["text"].split("\n"))
    all_lines = {ln for _, t in rows for ln in t.split("\n")}
    assert sorted(seen) == sorted(all_lines)

    orig = dict(rows)
    for r in out:
        kept_lines = r["text"].split("\n")
        src = orig[r["doc_id"]].split("\n")
        # kept lines preserve the doc's original order
        it = iter(src)
        assert all(ln in it for ln in kept_lines)
        assert r["n_kept"] == len(kept_lines)
        assert r["n_kept"] + r["n_dropped"] == len(src)


@pytest.fixture(scope="module")
def unnorm_embeddings(spark):
    """Clustered UNNORMALIZED vectors: cluster magnitudes span ~1-8x,
    so nearest-by-L2 is not nearest-by-cosine — the fixture for the
    reference's native metric (squared L2 end-to-end, USE_SQRDIST
    src/def.h:3)."""
    rng = np.random.Generator(np.random.PCG64(21))
    centers = rng.standard_normal((40, 32))
    rows = []
    vid = 0
    for c in range(40):
        scale = 0.5 + (c % 8)
        for _ in range(10):
            v = scale * centers[c] + 0.2 * rng.standard_normal(32)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    return spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    ).localCheckpoint(eager=True)


def test_lsh_topk_l2_metric_recall(unnorm_embeddings):
    """E2LSH p-stable family (floor((a.v+b)/W), src/e2lsh.cpp:62-69)
    on unnormalized vectors: recall >= 0.9 vs the exact L2 top-k.
    Sign-LSH would erase the magnitudes this metric depends on
    (VERDICT r2 'What's missing' #1)."""
    q = unnorm_embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, unnorm_embeddings, k=5, metric="l2_sq")
    stats: dict = {}
    approx = ann.lsh_topk(q, unnorm_embeddings, k=5, dim=32,
                          bands=8, rows_per_band=4, num_probes=1,
                          metric="l2_sq", w=4.0, stats=stats)
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.9, f"L2 ANN recall {rec:.3f}"
    # the quantized family must also be SELECTIVE on this fixture:
    # far fewer exact verifications than all-pairs
    n = unnorm_embeddings.count()
    assert stats["n_candidates"] < 0.5 * 20 * n, stats
    # scores are negated squared distances (descending = nearest)
    assert all(r["score"] <= 0 for r in approx.collect())


def test_graph_topk_l2_metric(unnorm_embeddings):
    """The flagship graph path under metric='l2_sq' end-to-end
    (build + seeds + exact re-rank all in the quantized family)."""
    q = unnorm_embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, unnorm_embeddings, k=5, metric="l2_sq")
    approx = ann.graph_topk(
        q, unnorm_embeddings, k=5, dim=32, T=12, ef=32,
        bands=8, rows_per_band=4, num_probes=1,
        build_bands=8, build_rows_per_band=4, build_num_probes=1,
        metric="l2_sq", w=4.0)
    rec = ann.ann_recall(approx, exact)
    assert rec >= 0.9, f"L2 graph recall {rec:.3f}"


def test_extend_knn_graph_matches_rebuild(embeddings):
    """Incremental graph insertion (extend_knn_graph — the batch form
    of divGraph::oneByOneInsert/insertLSHRefine,
    src/divGraph.h:764-810,471-526): inserting a held-out batch into a
    prebuilt graph must (a) leave untouched adjacency rows byte-
    identical, (b) respect the degree cap, and (c) search the union
    corpus at recall within 0.05 of a full rebuild."""
    base = embeddings.filter(F.col("vec_id") < 350) \
        .localCheckpoint(eager=True)
    new = embeddings.filter(F.col("vec_id") >= 350) \
        .localCheckpoint(eager=True)
    T = 8
    e_base = ann.build_knn_graph(base, T=T, dim=32, seed=42) \
        .localCheckpoint(eager=True)
    extended = ann.extend_knn_graph(base, e_base, new, T=T, dim=32) \
        .localCheckpoint(eager=True)

    # the expected touched set is computed INDEPENDENTLY of the
    # extended-vs-base diff (ADVICE r3: deriving it from the diff made
    # the verbatim assertion vacuous if every row had been rewritten):
    # an adjacency list may change iff its src is a new id or a
    # discovered neighbor (dst) of the new nodes' search/batch edges —
    # extend_knn_graph's bounded-touch contract
    nn = ann.graph_topk(new, base, k=T, dim=32, edges=e_base)
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    expected_touched = new_ids | {
        r["neighbor_id"] for r in nn.select("neighbor_id").collect()}

    changed = {r["src"] for r in
               extended.join(e_base, ["src", "dst", "score"], "left_anti")
               .select("src").distinct().collect()}
    changed |= {r["src"] for r in  # deletions count as changes too
                e_base.join(extended, ["src", "dst", "score"], "left_anti")
                .select("src").distinct().collect()}
    assert changed <= expected_touched, changed - expected_touched
    base_srcs = {r["src"] for r in e_base.select("src").distinct().collect()}
    assert base_srcs - expected_touched, \
        "bounded-touch contract vacuous: every base node was touched"

    before = {(r["src"], r["dst"], r["score"])
              for r in e_base.collect() if r["src"] not in expected_touched}
    after = {(r["src"], r["dst"], r["score"])
             for r in extended.collect()
             if r["src"] not in expected_touched}
    assert before == after  # untouched rows verbatim

    deg = extended.groupBy("src").count().agg(F.max("count")).first()[0]
    assert deg <= T

    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    rebuilt = ann.build_knn_graph(embeddings, T=T, dim=32, seed=42)
    r_ext = ann.ann_recall(
        ann.graph_topk(q, embeddings, k=5, dim=32, edges=extended), exact)
    r_full = ann.ann_recall(
        ann.graph_topk(q, embeddings, k=5, dim=32, edges=rebuilt), exact)
    assert r_ext >= r_full - 0.05, (r_ext, r_full)
    assert r_ext >= 0.9, r_ext


def test_save_load_knn_graph_roundtrip(embeddings, tmp_path):
    """Graph index persistence (maps divGraph::save/load ctor,
    src/divGraph.h:1336-1388,249-357): the loaded edge table is
    byte-equal, carries its build meta, and serves graph_topk without
    rebuilding (the amortization the reference gets from
    src/main.cpp:79-90)."""
    path = str(tmp_path / "apg")
    edges = ann.build_knn_graph(embeddings, T=12, dim=32, seed=42)
    ann.save_knn_graph(edges, path, meta={"T": 12, "metric": "cosine"})
    loaded, meta = ann.load_knn_graph(embeddings.sparkSession, path)
    assert meta == {"T": 12, "metric": "cosine"}
    assert sorted(map(tuple, loaded.collect())) == \
        sorted(map(tuple, edges.collect()))
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=10)
    out = ann.graph_topk(q, embeddings, k=10, dim=32, edges=loaded, ef=32)
    assert ann.ann_recall(out, exact) >= 0.95


def test_graph_topk_entry_mode_ablation(embeddings):
    """seed_mode='entry' is the reference's knnHNSW ablation
    (src/divGraph.h:1061-1091: enter at point 0, no LSH seeding). On a
    well-separated clustered corpus the kNN graph is near-disconnected
    across clusters, so a single fixed entry can only reach its own
    component — unseeded recall collapses while LSH-seeded recall
    stays >= 0.95. That gap IS the ablation: the measured
    justification for the LSH seeding stage (VERDICT r2 item 9)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=10)
    edges = ann.build_knn_graph(embeddings, T=12, dim=32, seed=42)
    s_hnsw: dict = {}
    hnsw = ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                          ef=32, rounds=8, seed_mode="entry",
                          stats=s_hnsw)
    s_lsh: dict = {}
    seeded = ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                            ef=32, rounds=3, stats=s_lsh)
    r_hnsw = ann.ann_recall(hnsw, exact)
    r_lsh = ann.ann_recall(seeded, exact)
    assert r_hnsw >= 0.2, f"HNSW-mode recall {r_hnsw:.3f} (cannot navigate)"
    assert r_lsh >= 0.95, f"seeded recall {r_lsh:.3f}"
    assert r_lsh > r_hnsw + 0.2, (r_lsh, r_hnsw)
    # the unseeded walk dead-ends inside its entry component (few
    # scorings, converges early) — the structural reason it loses
    assert s_hnsw["n_candidates"] < s_lsh["n_candidates"], (s_hnsw, s_lsh)


@pytest.fixture(scope="module")
def dup_heavy(spark, embeddings):
    """The clustered fixture plus one planted MEGA-BUCKET: 400
    byte-identical vectors, which collide in EVERY band — the
    duplicate-heavy regime (exactly the dedup domain) where an
    uncapped bucket equi-join goes quadratic in the hot bucket."""
    v = [1.0] * 32
    dup = spark.createDataFrame(
        [(10_000 + i, v) for i in range(400)],
        "vec_id long, embedding array<float>")
    return embeddings.select("vec_id", "embedding").unionByName(dup) \
        .localCheckpoint(eager=True)


def test_lsh_topk_query_bucket_cap(dup_heavy, embeddings):
    """Query-side candidate cap (the probe budget lshUB,
    src/divGraph.h:934-937; VERDICT r3 item 2): with one planted
    mega-bucket, the capped run must verify strictly fewer candidates,
    report the overflow it dropped, and keep both the mega-bucket
    query's result quality (its true neighbors survive the cap — the
    kept members are still exact duplicates) and the normal queries'
    recall."""
    q = dup_heavy.filter(
        F.col("vec_id").isin([10_000, 10_001, 0, 1, 2, 3, 4]))
    s_cap: dict = {}
    s_open: dict = {}
    capped = ann.lsh_topk(q, dup_heavy, k=5, dim=32,
                          bucket_cap=64, stats=s_cap) \
        .localCheckpoint(eager=True)
    ann.lsh_topk(q, dup_heavy, k=5, dim=32,
                 bucket_cap=None, stats=s_open)
    assert s_cap["n_bucket_overflow"] > 0, s_cap
    assert s_cap["n_candidates"] < s_open["n_candidates"], (s_cap, s_open)
    # bounded: the dup queries' candidate fan-in from the mega-bucket
    # is <= cap (same kept subset in every band: hash order of id is
    # band-independent), not ~400
    dup_cands = capped.filter(F.col("query_id") >= 10_000)
    assert dup_cands.filter(F.col("score") >= 0.999).count() == 10, \
        "dup queries must still fill top-5 with exact duplicates"
    # normal queries keep recall against the full corpus
    qn = dup_heavy.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    exact = ann.bruteforce_topk(qn, dup_heavy, k=5)
    rec = ann.ann_recall(capped.filter(F.col("query_id") < 400), exact)
    assert rec >= 0.8, rec


def test_graph_topk_seed_bucket_cap(dup_heavy):
    """The same lshUB cap on graph_topk's SEED join (the r3 gap:
    build capped mega-buckets but the query path joined uncapped).
    The count comparison runs at rounds=0 so it isolates the SEED
    stage — with expansion on, the graph walk legitimately
    re-discovers dropped mega-bucket members (that recoverability is
    the reason the cap is safe), which would blur the seed count."""
    q = dup_heavy.filter(F.col("vec_id").isin([10_000, 0, 1]))
    edges = ann.build_knn_graph(dup_heavy, T=8, dim=32, seed=42) \
        .localCheckpoint(eager=True)
    s_cap: dict = {}
    s_open: dict = {}
    capped = ann.graph_topk(q, dup_heavy, k=5, dim=32, edges=edges,
                            rounds=0, bucket_cap=64, stats=s_cap) \
        .localCheckpoint(eager=True)
    ann.graph_topk(q, dup_heavy, k=5, dim=32, edges=edges,
                   rounds=0, bucket_cap=None, stats=s_open)
    assert s_cap["n_bucket_overflow"] > 0, s_cap
    assert s_cap["n_candidates"] < s_open["n_candidates"], (s_cap, s_open)
    # the mega-bucket query still fills top-5 with exact duplicates
    # from the capped seed set alone
    assert capped.filter((F.col("query_id") == 10_000)
                         & (F.col("score") >= 0.999)).count() == 5


def test_lsh_topk_adaptive_probe_budget(embeddings):
    """Adaptive probe budget (the early-stop of LLCP-ordered probing,
    src/e2lsh.cpp:573-699; VERDICT r3 item 9): queries already rich in
    base-key candidates skip probe expansion — candidate counts drop
    on a clustered corpus at an unchanged recall gate."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    cfg = dict(dim=32, bands=8, rows_per_band=4, num_probes=2, seed=42)
    s_budget: dict = {}
    s_full: dict = {}
    budgeted = ann.lsh_topk(q, embeddings, k=5, probe_budget=40,
                            stats=s_budget, **cfg)
    ann.lsh_topk(q, embeddings, k=5, probe_budget=None,
                 stats=s_full, **cfg)
    assert s_budget["n_candidates"] < s_full["n_candidates"], \
        (s_budget, s_full)
    rec = ann.ann_recall(budgeted, exact)
    assert rec >= 0.9, rec
    # a budget no query can reach must be a no-op: identical candidate
    # count to unbudgeted probing — in particular, queries with ZERO
    # base-key candidates must still get their probe-key candidates
    # (the original semi-join formulation silently dropped them)
    s_huge: dict = {}
    ann.lsh_topk(q, embeddings, k=5, probe_budget=10**9,
                 stats=s_huge, **cfg)
    assert s_huge["n_candidates"] == s_full["n_candidates"], \
        (s_huge, s_full)


def test_lsh_auto_calibration_clustered(embeddings):
    """Runtime knob calibration (the setW analogue, src/basis.cpp:8-31;
    VERDICT r3 item 6): on a corpus WITH neighbor structure the
    no-knobs path must pick a config that is strictly more selective
    than the broad fallback at recall >= 0.9 — without hand-tuning."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=5)
    s_auto: dict = {}
    auto = ann.lsh_topk(q, embeddings, k=5, dim=32, stats=s_auto)
    rec = ann.ann_recall(auto, exact)
    assert s_auto["calibration"]["calibrated"] is True, s_auto
    assert rec >= 0.9, rec
    s_fb: dict = {}
    ann.lsh_topk(q, embeddings, k=5, dim=32, bands=8, rows_per_band=4,
                 num_probes=2, stats=s_fb)
    assert s_auto["n_candidates"] < s_fb["n_candidates"], (s_auto, s_fb)
    # deterministic: same corpus + seed -> same knobs
    again = ann.calibrate_lsh_knobs(embeddings, dim=32, k=5)
    assert again == s_auto["calibration"], (again, s_auto)


def test_lsh_auto_calibration_random_falls_back(spark):
    """On a corpus with NO neighbor/background separation (uniform
    random vectors) no config can be both selective and accurate —
    the calibrator must return the documented broad defaults rather
    than explode the band count chasing an unreachable target."""
    rng = np.random.Generator(np.random.PCG64(11))
    pdf = pd.DataFrame({
        "vec_id": range(400),
        "embedding": [[float(x) for x in rng.standard_normal(32)]
                      for _ in range(400)],
    })
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<float>") \
        .localCheckpoint(eager=True)
    kn = ann.calibrate_lsh_knobs(e, dim=32, k=5)
    assert kn["calibrated"] is False, kn
    assert (kn["bands"], kn["rows_per_band"], kn["num_probes"]) == (8, 4, 2)


def test_lsh_probe_budget_autowired(spark):
    """VERDICT r4 item 9: the self-calibrating path derives an
    adaptive probe budget from the calibrator's own collision model —
    whenever the chosen config probes, ``probe_budget`` rides the knob
    dict (>= the 4k floor), lsh_topk adopts it with no caller knob,
    stats report how many queries skipped probing, and an explicit
    caller budget always wins over the derived one."""
    rng = np.random.Generator(np.random.PCG64(11))
    pdf = pd.DataFrame({
        "vec_id": range(400),
        "embedding": [[float(x) for x in rng.standard_normal(32)]
                      for _ in range(400)],
    })
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<float>") \
        .localCheckpoint(eager=True)
    # the uniform corpus takes the fallback config (8x4, 2 probes) —
    # probes > 0, so the budget must be derived even on the fallback
    kn = ann.calibrate_lsh_knobs(e, dim=32, k=5)
    assert kn["num_probes"] > 0
    assert kn["probe_budget"] >= 4 * 5, kn
    q = e.filter(F.col("vec_id") < 10)
    s_auto: dict = {}
    ann.lsh_topk(q, e, k=5, dim=32, stats=s_auto)
    assert s_auto["calibration"]["probe_budget"] == kn["probe_budget"]
    assert "n_probe_skipped_queries" in s_auto, s_auto
    # conservative by construction: on a UNIFORM corpus (no dense
    # upper tail) the 2x-background budget skips (almost) nobody
    assert s_auto["n_probe_skipped_queries"] <= 2, s_auto
    # an explicit caller budget wins over the derived one: with an
    # unreachably tiny budget every collided query skips probing
    s_tiny: dict = {}
    ann.lsh_topk(q, e, k=5, dim=32, probe_budget=1, stats=s_tiny)
    assert s_tiny["n_probe_skipped_queries"] > \
        s_auto["n_probe_skipped_queries"], (s_tiny, s_auto)
    assert s_tiny["n_candidates"] <= s_auto["n_candidates"]


def test_lsh_auto_calibration_l2(unnorm_embeddings):
    """The p-stable branch calibrates bucket width W too (the literal
    setW): on the unnormalized clustered fixture the chosen W must be
    positive and the auto path must keep the L2 recall gate."""
    kn = ann.calibrate_lsh_knobs(unnorm_embeddings, dim=32, k=5,
                                 metric="l2_sq")
    assert kn["w"] > 0, kn
    q = unnorm_embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, unnorm_embeddings, k=5, metric="l2_sq")
    approx = ann.lsh_topk(q, unnorm_embeddings, k=5, dim=32,
                          metric="l2_sq")
    assert ann.ann_recall(approx, exact) >= 0.9


def test_graph_topk_frontier_operating_point(spark):
    """The recall >= 0.99 operating point (VERDICT r4 item 2): the
    published-row regime the reference commits to
    (dataset/ANN/LSH-G_div_result.csv:2 = recall 0.9942 at cost
    0.0264, k=50 ef-sweep src/main.cpp:158-174). Knobs swept on the
    round-5 benchmark's 20k clustered corpus (recall 0.998 / cost
    0.0200 there); this gate runs the SAME knobs
    on a clustered corpus with a DIFFERENT seed/size and queries drawn
    one-per-cluster, so the operating point is generalization, not a
    memorized sweep cell. Enabled by the r5 bucket-cap salting fix —
    under the id-only cap order the same nodes survived in every
    overflowing build bucket and the rest were edgeless (recall
    plateaued at 0.962 no matter the query knobs)."""
    rng = np.random.Generator(np.random.PCG64(13))
    centers = rng.standard_normal((600, 64))
    noise = 0.15 * rng.standard_normal((6000, 64))
    pdf = pd.DataFrame({
        "vec_id": range(6000),
        "embedding": [[float(x) for x in centers[i // 10] + noise[i]]
                      for i in range(6000)],
    })
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<float>") \
        .localCheckpoint(eager=True)
    q = e.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 400))
    exact = ann.bruteforce_topk(q, e, k=10).localCheckpoint(eager=True)
    edges = ann.build_knn_graph(e, T=16, dim=64, seed=42) \
        .localCheckpoint(eager=True)
    s: dict = {}
    approx = ann.graph_topk(q, e, k=10, dim=64, edges=edges,
                            bands=4, rows_per_band=14, num_probes=0,
                            ef=64, rounds=4, prune_margin=0.15, stats=s)
    ev = ann.ann_eval(approx, exact, n_candidates=s["n_candidates"],
                      corpus_size=6000)
    assert ev["recall"] >= 0.99, ev
    assert ev["ratio"] <= 1.005, ev
    # cost floor is scale-dominated at 6k (absolute scorings/query are
    # ~N-independent, so the FRACTION shrinks with corpus size; at the
    # 20k sweep cell the same knobs measure 0.0200)
    assert ev["cost"] <= 0.12, ev


def test_graph_topk_hop_stats(embeddings):
    """Per-query search-depth diagnostics (maps queryN.maxHop/cost,
    src/e2lsh.h:19-76, src/Query.h:10-42; VERDICT r3 item 8)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    stats: dict = {}
    ann.graph_topk(q, embeddings, k=10, dim=32, T=12, ef=32,
                   rounds=4, seed=42, stats=stats).count()
    for field in ("max_hop", "avg_hop", "max_admitted", "avg_admitted"):
        assert field in stats, stats
    assert 1 <= stats["max_hop"] <= stats["n_rounds"], stats
    assert 0 < stats["avg_hop"] <= stats["max_hop"], stats
    assert 0 < stats["avg_admitted"] <= stats["max_admitted"], stats
    # admitted expansion candidates + seeds = total exact scorings
    assert stats["max_admitted"] <= stats["n_candidates"], stats


def test_graph_topk_large_batch_shuffle_path(embeddings):
    """The scoring join's broadcast is gated on Q·ef (ADVICE r3): a
    batch above broadcast_row_limit takes the shuffle-join plan. Both
    plans must return identical rows — the gate is a physical-plan
    choice, never a semantic one."""
    q = embeddings.filter(F.col("vec_id") < 20)
    edges = ann.build_knn_graph(embeddings, T=12, dim=32, seed=42) \
        .localCheckpoint(eager=True)
    small = ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                           broadcast_row_limit=200_000)
    forced = ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                            broadcast_row_limit=1)
    assert sorted(map(tuple, small.collect())) == \
        sorted(map(tuple, forced.collect()))


def test_graph_topk_prune_counts_and_recall(embeddings):
    """The sketch pre-prune (maps the chi^2 hash-distance prune,
    src/divGraph.h:216-232,1118-1134) must actually drop candidates
    before exact scoring — and the recall gate must survive it."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, embeddings, k=10)
    edges = ann.build_knn_graph(embeddings, T=12, dim=32, seed=42)
    s_on: dict = {}
    pruned = ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                            ef=48, prune_margin=0.15, stats=s_on)
    s_off: dict = {}
    ann.graph_topk(q, embeddings, k=10, dim=32, edges=edges,
                   ef=48, prune_margin=None, stats=s_off).count()
    assert s_on["n_pruned"] > 0, s_on
    assert s_off["n_pruned"] == 0
    assert s_on["n_candidates"] < s_off["n_candidates"], (s_on, s_off)
    assert ann.ann_recall(pruned, exact) >= 0.95
    # stage walls (the batch analogue of queryN.timeHash/timeSift,
    # src/e2lsh.h:19-76): seed stage always runs; the expansion wall is
    # positive whenever at least one expansion round executed
    for s in (s_on, s_off):
        assert s["seed_sec"] > 0, s
        assert s["expand_sec"] > 0 or s["n_rounds"] == 0, s


def test_ann_calibration_on_driver_corpus(spark):
    """Calibration gates on the DRIVER'S OWN sf0.1 embeddings (VERDICT
    r2 item 4) — a near-random 2000x64 corpus, the hardest regime for
    bucketing. Defaults were chosen from measured recall/cost curves
    (scripts/tune_ann.py):

    * graph (prebuilt index, default knobs): recall >= 0.9 at cost
      strictly below pure LSH's recall >= 0.9 config — the reference's
      core thesis (graph refinement needs fewer exact verifications
      than bucket probing at equal recall);
    * ivf at defaults: recall >= 0.8 (was 0.67 at the old defaults).
    """
    e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet") \
        .localCheckpoint(eager=True)
    n = e.count()
    q = e.filter(F.col("vec_id") < 20)
    exact = ann.bruteforce_topk(q, e, k=10).localCheckpoint(eager=True)

    s_lsh: dict = {}
    lsh = ann.lsh_topk(q, e, k=10, dim=64, stats=s_lsh)
    r_lsh = ann.ann_recall(lsh, exact)
    cost_lsh = s_lsh["n_candidates"] / (20 * n)

    edges = ann.build_knn_graph(e, T=16, dim=64, seed=42)
    s_g: dict = {}
    g = ann.graph_topk(q, e, k=10, dim=64, edges=edges, stats=s_g)
    r_g = ann.ann_recall(g, exact)
    cost_g = s_g["n_candidates"] / (20 * n)

    assert r_lsh >= 0.9, f"lsh recall {r_lsh:.3f}"
    assert r_g >= 0.9, f"graph recall {r_g:.3f}"
    assert cost_g < 0.6 * cost_lsh, (cost_g, cost_lsh)
    assert s_g["n_pruned"] > 0, s_g

    s_ivf: dict = {}
    ivf = ann.ivf_topk(q, e, k=10, stats=s_ivf)
    r_ivf = ann.ann_recall(ivf, exact)
    assert r_ivf >= 0.8, f"ivf recall {r_ivf:.3f}"


def test_lsh_topk_partial_knobs_raise(embeddings):
    """ADVICE r4 (ann.py:463): a partial knob set must fail loudly —
    the calibrated (bands, rows_per_band, num_probes) triple is
    jointly optimized, so silently defaulting the omitted knobs runs
    an unmodeled config with no signal to the caller."""
    q = embeddings.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="all-or-nothing"):
        ann.lsh_topk(q, embeddings, k=5, dim=32, bands=16)
    with pytest.raises(ValueError, match="all-or-nothing"):
        ann.lsh_topk(q, embeddings, k=5, dim=32,
                     rows_per_band=4, num_probes=2)


def test_domain_sample_quota_and_determinism(spark):
    """domain_sample keeps exactly min(quota, n_host) md5-ranked pages
    per canonical host, the two-level salted prune is lossless (same
    answer at any n_salts, matching a direct global ranking computed in
    Python), and NULL/hostless rows all pass through un-ranked."""
    import hashlib

    from lsh_apg_spark.operators import urlnorm

    rows = [(i, f"https://a.com/p{i}") for i in range(30)]          # big
    rows += [(100 + i, f"https://b.org/q{i}") for i in range(3)]    # small
    rows += [(200, None), (201, None)]                              # hostless
    pages = spark.createDataFrame(rows, "doc_id long, url string")

    quota = 5
    out = urlnorm.domain_sample(pages, quota=quota)
    got = {(r["doc_id"], r["host"], r["rank"]) for r in out.collect()}

    # direct global ranking oracle (urls above are already canonical)
    def expect(host, urls):
        ranked = sorted(
            (hashlib.md5(u.encode()).hexdigest(), i) for i, u in urls)
        return {(i, host, r + 1)
                for r, (_, i) in enumerate(ranked[:quota])}

    want = expect("a.com", [(i, f"https://a.com/p{i}") for i in range(30)])
    want |= expect("b.org",
                   [(100 + i, f"https://b.org/q{i}") for i in range(3)])
    want |= {(200, "", None), (201, "", None)}
    assert got == want

    # lossless at any salt fan-out, including the degenerate single salt
    for n_salts in (1, 4):
        alt = {(r["doc_id"], r["host"], r["rank"])
               for r in urlnorm.domain_sample(
                   pages, quota=quota, n_salts=n_salts).collect()}
        assert alt == want


def test_corpus_mix_rates_and_determinism(spark):
    """corpus_mix keeps each source at ~its prescribed rate (md5 bits
    are uniform), a full-rate source keeps EVERY row (incl. md5 prefix
    edge cases), an unlisted source keeps none, and the verdict is a
    pure function of the id (stable across invocations)."""
    import hashlib

    from lsh_apg_spark.operators import mixing

    n = 2000
    rows = [(i, ["web", "books", "code", "forum"][i % 4]) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"web": 0.5, "books": 1.0, "code": 0.1}
    out = mixing.corpus_mix(docs, rates)
    kept = {s: 0 for s in ("web", "books", "code", "forum")}
    verdicts = {}
    for r in out.collect():
        kept[r["source"]] += r["keep"]
        verdicts[r["doc_id"]] = r["keep"]
    assert kept["books"] == n // 4            # rate 1.0: all
    assert kept["forum"] == 0                 # unlisted: none
    assert abs(kept["web"] / (n // 4) - 0.5) < 0.1
    assert abs(kept["code"] / (n // 4) - 0.1) < 0.06
    # python replay of the exact rule — engine-independent determinism
    for i, src in rows[:200]:
        want = (hashlib.md5(str(i).encode()).hexdigest()[:13]
                < mixing.mix_threshold(rates.get(src, 0.0)))
        assert verdicts[i] == want, (i, src)
    # stable across invocations
    again = {r["doc_id"]: r["keep"]
             for r in mixing.corpus_mix(docs, rates).collect()}
    assert again == verdicts


def test_mix_threshold_edges():
    from lsh_apg_spark.operators import mixing
    import pytest as _pytest
    assert mixing.mix_threshold(0.0) == "0" * 13
    assert mixing.mix_threshold(1.0) == "g"       # > 'f...f': keeps all
    assert "f" * 13 < "g"
    assert mixing.mix_threshold(0.5) == format(1 << 51, "013x")
    with _pytest.raises(ValueError):
        mixing.mix_threshold(1.5)


def test_domain_sample_single_scan(spark, tmp_path):
    """The single-pass contract: one source scan feeds both the quota
    windows and the hostless pass-through (the sentinel-key design);
    a second Scan in the plan would mean the canonicalization chain
    runs twice per input row."""
    from lsh_apg_spark.operators import urlnorm
    from lsh_apg_spark.plans import explain

    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(1, "https://a.com/x"), (2, None)],
        "doc_id long, url string").write.parquet(p)
    plan = explain.simple_plan(
        urlnorm.domain_sample(spark.read.parquet(p), quota=3))
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan


def test_select_representatives_argmax_and_ties(spark):
    """Keep-best dedup picks the highest-score member per cluster,
    breaks exact score ties by min id, and emits exactly one row per
    cluster with the winner's own score."""
    rows = [
        ("c1", "u_b", 0.5), ("c1", "u_a", 0.9), ("c1", "u_c", 0.7),
        ("c2", "u_z", 0.4), ("c2", "u_y", 0.4),   # tie -> min id u_y
        ("c3", "u_solo", 0.1),
    ]
    assign = spark.createDataFrame(
        rows, "cluster_id string, url string, score double")
    got = {r["cluster_id"]: (r["url"], r["score"])
           for r in dedup.select_representatives(assign).collect()}
    assert got == {"c1": ("u_a", 0.9), "c2": ("u_y", 0.4),
                   "c3": ("u_solo", 0.1)}


def test_remove_repeated_lines_within_doc(spark):
    """First occurrence of each non-blank line survives in order,
    later repeats drop, blanks drop outright, cross-doc repeats are
    untouched (the WITHIN-doc contract), and the plan is shuffle-free."""
    from lsh_apg_spark.operators import linedup
    from lsh_apg_spark.plans import explain

    docs = spark.createDataFrame(
        [(1, "a\nb\n\na\nc\nb\na"), (2, "a\nx"), (3, "  \n\n")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           linedup.remove_repeated_lines(docs).collect()}
    assert (out[1]["text"], out[1]["n_kept"], out[1]["n_dropped"]) \
        == ("a\nb\nc", 3, 3)
    # doc 2 keeps its own 'a' — doc 1 owning 'a' is irrelevant here
    assert out[2]["text"] == "a\nx" and out[2]["n_dropped"] == 0
    # all-blank doc: empty output, nothing counted kept or dropped
    assert (out[3]["text"], out[3]["n_kept"], out[3]["n_dropped"]) \
        == ("", 0, 0)
    plan = explain.simple_plan(linedup.remove_repeated_lines(docs))
    assert "Exchange" not in plan, plan


def test_corpus_mix_shuffle_free(spark):
    """The mixture verdict is a pure per-row expression — no Exchange
    may appear in the plan at any corpus size."""
    from lsh_apg_spark.operators import mixing
    from lsh_apg_spark.plans import explain
    docs = spark.createDataFrame(
        [(1, "web"), (2, "books")], "doc_id long, source string")
    plan = explain.simple_plan(
        mixing.corpus_mix(docs, {"web": 0.5, "books": 1.0}))
    assert "Exchange" not in plan, plan


def test_ann_plane_fixtures_match_udf_draw(tmp_path):
    """The parquet plane fixtures the DuckDB ANN oracles read
    (ensure_ann_plane_fixtures) are byte-exact twins of the seeded
    draws make_projection_udf / make_pstable_udf make (PCG64(42),
    standard_normal((dim, n)) then uniform(0, w, n) in that order) —
    any drift between fixture and UDF silently unglues the
    ann_topk_lsh / ann_topk_lsh_l2 oracle rows, so this gate pins
    exact equality, not closeness."""
    import pyarrow.parquet as pq

    from lsh_apg_spark.fixtures import ensure_ann_plane_fixtures

    paths = ensure_ann_plane_fixtures(repo_dir=str(tmp_path))
    cos = pq.read_table(paths["cosine"]).to_pydict()
    ps = pq.read_table(paths["pstable"]).to_pydict()

    rng = np.random.Generator(np.random.PCG64(42))
    planes = rng.standard_normal((64, 32))
    assert cos["plane_id"] == list(range(32))
    got = np.array(cos["plane"]).T
    assert got.shape == (64, 32) and np.array_equal(got, planes)

    rng = np.random.Generator(np.random.PCG64(42))
    a = rng.standard_normal((64, 32))
    b = rng.uniform(0.0, 8.0, size=32)
    assert ps["fn_id"] == list(range(32))
    assert np.array_equal(np.array(ps["a"]).T, a)
    assert np.array_equal(np.array(ps["b"]), b)

    # graph-oracle fixtures: the 64-func seed-stage planes (its OWN
    # draw — standard_normal((64, 64)) is not a prefix of the 32-func
    # one) and the sketch planes (make_sketch_udf seed 42+9999)
    cos64 = pq.read_table(paths["cosine64"]).to_pydict()
    rng = np.random.Generator(np.random.PCG64(42))
    planes64 = rng.standard_normal((64, 64))
    assert cos64["plane_id"] == list(range(64))
    assert np.array_equal(np.array(cos64["plane"]).T, planes64)

    sk = pq.read_table(paths["sketch"]).to_pydict()
    rng = np.random.Generator(np.random.PCG64(10041))
    skp = rng.standard_normal((64, 64))
    assert sk["plane_id"] == list(range(64))
    assert np.array_equal(np.array(sk["plane"]).T, skp)

    # idempotent: a second call must not rewrite (same inode contract
    # the oracle relies on mid-run)
    import os
    before = {p: os.stat(p).st_mtime_ns for p in paths.values()}
    again = ensure_ann_plane_fixtures(repo_dir=str(tmp_path))
    assert again == paths
    assert {p: os.stat(p).st_mtime_ns for p in paths.values()} == before
