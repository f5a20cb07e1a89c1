"""Dedup-family operators beyond the MinHash pipeline: exact dedup,
SimHash near-dup, n-gram-Jaccard brute force (the golden oracle job,
maps J3 ben_make, src/Preprocess.cpp:107-142), embedding-cosine
near-dup. Each is a standalone DataFrame program."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.functions import vectors
from lsh_apg_spark.functions.hashing import simhash_hamming
from lsh_apg_spark.operators.components import connected_components


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, canonical_id) where canonical_id = min id among byte-identical
    texts — hashed exact dedup as a window-min over md5(text): one scan
    and ONE shuffle. The groupBy + join-back form this replaces computed
    the keying in two plan branches and paid a second shuffle; measured
    3-6x slower at 800k docs (r4 A/B, byte-identical output). Window
    groups are sorter-backed (spill, never OOM), so mega-dup groups
    stay linear. Group on md5(text), not text, to keep shuffle keys
    small."""
    keyed = docs.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("_k"),
    )
    return keyed.select(
        id_col,
        F.min(id_col).over(Window.partitionBy("_k")).alias("canonical_id"))


def shingle_rows(docs: DataFrame, k: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, shingle STRING) — distinct word k-shingles, built entirely
    with JVM higher-order functions (split/transform/explode). The
    SQL-portable twin of the hashed-shingle kernel: used by the
    brute-force oracle so DuckDB can replay it exactly."""
    # the whitespace class is spelled out: Java's \s includes \x0b but
    # RE2's (the DuckDB twin) does not
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+")
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j + 1) for j in range(k)]))
    return (
        docs.filter(F.size(toks) >= k)
        .select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def bruteforce_jaccard_pairs(docs: DataFrame, tau: float, k: int = 3,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """All-pairs exact n-gram Jaccard >= tau via shingle-inverted-index
    self-join — the distributed form of the reference's brute-force
    oracle (ben_make, src/Preprocess.cpp:107-142). O(sum of bucket^2)
    over shingle buckets, not O(N^2): only docs sharing a shingle meet.
    Use at oracle/test scale; the LSH pipeline is the scale path."""
    sh = shingle_rows(docs, k, id_col, text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("_i"))
    )
    sz_a = sizes.select(F.col(id_col).alias("a"), F.col("_n").alias("_na"))
    sz_b = sizes.select(F.col(id_col).alias("b"), F.col("_n").alias("_nb"))
    return (
        inter.join(sz_a, "a").join(sz_b, "b")
        .withColumn("_j", F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")))
        .filter(F.col("_j") >= tau)
        .select("a", "b", F.round("_j", 4).alias("jaccard"))
    )


def exact_dedup_clusters(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact dedup routed through the generic CC operator (edges =
    consecutive ids within each identical-text group) — exercises the
    cluster-resolution path; result is identical to exact_dedup."""
    # zero-pad numeric ids so string-min == numeric-min inside CC
    keyed = docs.select(
        F.lpad(F.col(id_col).cast("string"), 12, "0").alias("_id"),
        F.md5(F.col(text_col).cast("binary")).alias("_k"),
    )
    edges = (
        keyed.withColumn(
            "_min", F.min("_id").over(Window.partitionBy("_k")))
        .filter(F.col("_id") != F.col("_min"))
        .select(F.col("_min").alias("a"), F.col("_id").alias("b"))
    )
    cc = connected_components(edges, nodes=keyed.select(F.col("_id")),
                              id_col="_id")
    return cc.select(
        F.col("_id").cast("long").alias(id_col),
        F.col("cluster_id").cast("long").alias("canonical_id"),
    )


def simhash_neardup_pairs(signatures: DataFrame, cfg: DedupConfig,
                          id_col: str = "url") -> DataFrame:
    """Near-dup pairs by SimHash Hamming <= hamming_max, candidate-
    generated by 16-bit block banding (pigeonhole: hamming <= 3 over 64
    bits → at least one of 4 blocks identical), then exact Hamming
    verify — the same candidates-then-verify shape as the main
    pipeline, on the SimHash fingerprint."""
    n_blocks = 4
    block_bits = 64 // n_blocks
    mask = (1 << block_bits) - 1
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("simhash"), i * block_bits)
             .bitwiseAND(F.lit(mask)).alias("key"),
        )
        for i in range(n_blocks)
    ])
    exploded = (
        signatures.select(id_col, "simhash", F.explode(blocks).alias("b"))
        .select(id_col, "simhash", "b.blk", "b.key")
    )
    lhs = exploded.select(F.col(id_col).alias("a"),
                          F.col("simhash").alias("_sa"), "blk", "key")
    rhs = exploded.select(F.col(id_col).alias("b"),
                          F.col("simhash").alias("_sb"), "blk", "key")
    return (
        lhs.join(rhs, ["blk", "key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", simhash_hamming("_sa", "_sb"))
        .filter(F.col("hamming") <= cfg.hamming_max)
        .select("a", "b", "hamming")
        .dropDuplicates(["a", "b"])
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         bands: int = 32,
                         rows_per_band: int = 2,
                         num_probes: int = 0,
                         seed: int = 42,
                         dim: int | None = None) -> DataFrame:
    """Embedding pairs at exact cosine >= threshold; probabilistic
    recall (miss odds < 1e-7 per boundary pair at the default banding
    — see below), exact precision (every pair cosine-verified).
    Sign-LSH-bucketed candidates then exact verify (the reference's
    candidates-then-verify shape, src/e2lsh.cpp:131-200), never an
    all-pairs cross join (VERDICT r1 item 4).

    Scale shape mirrors the MinHash dedup path: the band explode and
    bucket grouping carry slim (id, bhash) rows; pair expansion is a
    row-local double explode of per-bucket member arrays (no
    self-join); full vectors join back only onto the deduped candidate
    set for the exact-cosine verdict. Precision is exact (every pair
    verified); recall is the banding knob: a pair at cosine c collides
    per band with prob (1 - acos(c)/pi)^rows_per_band, so the default
    32 bands x 2 rows misses a boundary pair at cosine 0.4 with
    probability (1 - 0.631^2)^32 < 1e-7 — the operator reproduces the
    exact all-pairs oracle. SELECTIVITY also follows from (bands, r):
    at tau=0.4 a 64-dim random corpus is barely separable (random-pair
    collision 0.25/band at r=2 — candidates approach all-pairs, which
    this test corpus exhibits), while at realistic near-dup thresholds
    (tau >= 0.8: p_bit >= 0.795) r=8/bands=16 prunes aggressively with
    recall ~1 (see tests/test_operators.py::
    test_cosine_neardup_selective_at_high_threshold). No bucket cap is
    applied: the output is a pair LIST (a cap would silently drop
    pairs); dense-region skew is handled by choosing r for the
    threshold, and AQE splits any residual hot shuffle partition.

    Pass ``dim`` explicitly where known — omitting it costs one extra
    Spark job (a single-row probe during plan construction; ADVICE
    r2). An empty input yields an empty pair frame either way."""
    from lsh_apg_spark.operators.ann import _sign_bucket_rows
    from lsh_apg_spark.operators.pairs import nonsingleton_buckets

    if dim is None:
        head = embeddings.select(vec_col).head(1)
        if not head:
            return embeddings.sparkSession.createDataFrame(
                [], "a long, b long, cosine double")
        dim = len(head[0][0])
    b = _sign_bucket_rows(embeddings, "n", dim, bands, rows_per_band,
                          seed, num_probes, id_col, vec_col)
    # window-count singleton drop BEFORE collect_list: the singleton
    # majority never becomes arrays (the measured-winner form from the
    # MinHash path, operators/pairs.nonsingleton_buckets)
    survivors = nonsingleton_buckets(b)
    arrays = survivors.groupBy("bhash") \
        .agg(F.collect_list("n_id").alias("ids"))
    pairs = (
        arrays.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    va = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    score = vectors.make_pair_score_udf("cosine")
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn("_c", score(F.col("_va"), F.col("_vb")))
        .filter(F.col("_c") >= threshold)
        .select("a", "b", F.round("_c", 4).alias("cosine"))
    )


def cosine_allpairs_exact(embeddings: DataFrame, threshold: float,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """All-pairs exact cosine >= threshold — the TEST ORACLE for
    cosine_neardup_pairs (maps ben_make's brute force,
    src/Preprocess.cpp:107-142). O(N^2) cross join: never a product
    path."""
    a = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    b = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    score = vectors.make_pair_score_udf("cosine")
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("_c", score(F.col("_va"), F.col("_vb")))
        .filter(F.col("_c") >= threshold)
        .select("a", "b", F.round("_c", 4).alias("cosine"))
    )


def semdedup(embeddings: DataFrame, tau: float,
             n_cells: int | None = None,
             iters: int = 2,
             seed: int = 42,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             stats: dict | None = None) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells over the embedding space, exact
    all-pairs cosine WITHIN each cell, and for every pair above ``tau``
    drop the member that sits CLOSER to its cell centroid — the
    paper's keep-low rule (of two semantic duplicates the
    lower-centroid-similarity one is the less prototypical example and
    is retained; ties break to the min id, so the verdict is
    deterministic and order-independent). Complements the lexical
    near-dup family: MinHash catches edit-level duplicates,
    cosine_neardup_pairs catches embedding near-identity, semdedup
    catches *semantic* redundancy the paper showed survives both.

    Output: one row per input vector — (id_col, cell, keep).

    Scale shape: the quantizer trains via train_ivf_centroids (only
    n_cells x dim numbers ever reach the driver); assignment is one
    batch-matmul pandas UDF (no shuffle); the within-cell pair
    expansion is the engine's standard row-local double explode of
    per-cell member arrays (ONE shuffle — groupBy cell — never a
    two-sided self-join); full vectors join back only for the exact
    verify. The quadratic is confined to cell size by design — the
    paper runs 50k clusters on LAION precisely so |cell| ~ N/n_cells
    stays bounded; ``n_cells=None`` sizes by the IVF sqrt(N) rule so
    cell mass grows only as sqrt(N); at 100 TB n_cells scales with N
    (and a hot cell
    that k-means refuses to split gets recursively re-quantized —
    same remedy as the banding path's salted sub-buckets). ``stats``
    out-param records the measured cell histogram max so a production
    job can assert its cell-size budget before paying the quadratic."""
    from lsh_apg_spark.operators.ann import (_cell_assign_udf,
                                             train_ivf_centroids)

    if not embeddings.head(1):
        id_type = embeddings.schema[id_col].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, cell int, keep boolean")
    if n_cells is None:
        # the IVF sizing rule (calibrate_ivf_knobs): nearest power of
        # two to sqrt(N), clamped [8, 256] — cell mass ~ sqrt(N) keeps
        # the within-cell quadratic sublinear in N at any fixed clamp
        import math as _math
        n = embeddings.count()
        n_cells = 2 ** int(round(_math.log2(
            min(256.0, max(8.0, _math.sqrt(max(n, 1)))))))
    centroids = train_ivf_centroids(
        embeddings, n_cells, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, metric="cosine")
    assign = _cell_assign_udf(centroids, "cosine")
    a = (
        embeddings.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("v"))
        .withColumn("_a", assign(F.col("v")))
        .select("id", "v", F.col("_a.cell").alias("cell"),
                F.col("_a.csim").alias("csim"))
    )
    # materialize once: the assignment UDF feeds three plan branches
    # (both explode sides + the output frame) — without this the
    # matmul re-evaluates per branch (the simhash self-join lesson)
    a = a.localCheckpoint(eager=True)
    if stats is not None:
        hist = a.groupBy("cell").count().agg(
            F.max("count").alias("mx"), F.count("*").alias("nc")).head()
        stats["max_cell_size"] = hist["mx"]
        stats["n_nonempty_cells"] = hist["nc"]
    members = a.groupBy("cell").agg(
        F.collect_list(F.struct("id", "csim")).alias("ms"))
    pairs = (
        members.select(F.explode("ms").alias("x"), "ms")
        .select("x", F.explode("ms").alias("y"))
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("pa"), F.col("x.csim").alias("csa"),
                F.col("y.id").alias("pb"), F.col("y.csim").alias("csb"))
    )
    va = a.select(F.col("id").alias("pa"), F.col("v").alias("_va"))
    vb = a.select(F.col("id").alias("pb"), F.col("v").alias("_vb"))
    score = vectors.make_pair_score_udf("cosine")
    adm = (
        pairs.join(va, "pa").join(vb, "pb")
        .withColumn("_c", score(F.col("_va"), F.col("_vb")))
        .filter(F.col("_c") > tau)
    )
    # per admitted pair the member with the LARGER (csim, id) struct is
    # the loser; a vector survives iff no pair names it loser. Field
    # names must match for Spark's struct comparison.
    losers = adm.select(
        F.when(F.struct(F.col("csa").alias("cs"), F.col("pa").alias("i"))
               < F.struct(F.col("csb").alias("cs"), F.col("pb").alias("i")),
               F.col("pb")).otherwise(F.col("pa")).alias("id")
    ).distinct()
    return (
        a.join(losers.withColumn("_l", F.lit(True)), "id", "left")
        .select(F.col("id").alias(id_col), "cell",
                F.col("_l").isNull().alias("keep"))
    )


def select_representatives(assign: DataFrame, id_col: str = "url",
                           cluster_col: str = "cluster_id",
                           score_col: str = "score") -> DataFrame:
    """Keep-BEST dedup: one representative per cluster — the member
    with the highest ``score_col``, ties broken by the lexicographic
    min ``id_col``. The quality-aware alternative to the pipeline's
    keep-first rule (a near-dup cluster often holds one clean page and
    N mangled recrawls; keep-first keeps whichever sorts lowest,
    keep-best keeps the cleanest). Input: one row per member carrying
    (cluster, id, score); output: one row per cluster with its chosen
    representative and that representative's score.

    One shuffle, skew-safe: min over struct(-score, id) is a map-side
    combined aggregate, so a mega-cluster (the dup-heavy corpora this
    engine targets) ships one partial row per task — never a window
    sort over the hot cluster key. Scores must be rounded BEFORE this
    operator if engine-exact tie behavior matters (the entry rounds to
    4 dp, making cross-engine argmax ties deterministic)."""
    best = F.min(F.struct((-F.col(score_col)).alias("_ns"),
                          F.col(id_col).alias("_id"))).alias("_w")
    return (
        assign.groupBy(cluster_col).agg(best)
        .select(cluster_col, F.col("_w._id").alias(id_col),
                (-F.col("_w._ns")).alias(score_col))
    )
