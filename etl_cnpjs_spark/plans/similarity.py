"""Similarity-search plans over `embeddings` (sim_*) and embedding
transforms (embedding_*): exact and filtered top-k, k-NN joins, IVF
probing with label-seeded and trained coarse quantizers, recall
reports, late-interaction (MaxSim) scoring, random projections,
normalization, centroids, Gram matrices, scalar and product
quantization.

All scores are exact doubles, bit-identical to DuckDB (see
operators/similarity.py) — every plan here carries a full oracle,
including the IVF approximate path (the approximation is in the
*algorithm*, which the oracle re-derives exactly, not in the arithmetic).
"""

from __future__ import annotations

import random as _random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.operators.similarity import (
    cosine,
    gram_upper_map_in_pandas,
    knn_join_blocked,
    sql_cosine,
    vec_double,
)
from etl_cnpjs_spark.plans.registry import quantize, register
from etl_cnpjs_spark.staging import staged


TOP_K = 10
NEAR_DUP_TAU = 0.4  # this corpus's embeddings are near-orthogonal (max
# pairwise cos ≈ 0.51 at sf0.01); 0.4 keeps the plan's output non-trivial.
CENTROID_MOD = 97  # deterministic coarse quantizer: vec_id % 97 == 0
N_PROBE = 2


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT parallel=True: _vecs feeds the mapInPandas numpy scorers
    # (hyperplane signatures, blocked k-NN) whose per-batch vectorization
    # wants few LARGE Arrow batches — a 32-way repartition of 2k vectors
    # measured dedup_embedding_lsh +1.24 s / sim_knn_join +0.58 s (r13 A/B).
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", vec_double(F.col("embedding")).alias("v"))


_SQL_VECS = "SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"


@register(
    "sim_topk",
    oracle=f"""
    WITH n AS ({_SQL_VECS}),
    q AS (SELECT v AS qv, vec_id AS qid FROM n ORDER BY vec_id LIMIT 1)
    SELECT n.vec_id, n.label, {sql_cosine("n.v", "q.qv")} AS cos_sim
    FROM n, q
    WHERE n.vec_id <> q.qid
    ORDER BY cos_sim DESC, n.vec_id
    LIMIT {TOP_K}
    """,
    tags=("north_star", "similarity"),
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector (the lowest vec_id):
    broadcast the single query row, scan once, TakeOrderedAndProject heap.
    The exact-ANN baseline; linear in corpus size at any scale."""
    n = _vecs(spark, sf_dir)
    q = (
        n.orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    )
    scored = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


KNN_K = 5


@register(
    "sim_knn_join",
    oracle=f"""
    WITH n AS ({_SQL_VECS}),
    p AS (
      SELECT a.vec_id AS i, b.vec_id AS j, {sql_cosine("a.v", "b.v")} AS cos_sim
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT i, j, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos_sim DESC, j) AS INT) AS rn
      FROM p)
    SELECT i, j, cos_sim, rn FROM r WHERE rn <= {KNN_K}
    """,
    tags=("north_star", "similarity", "knn"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN self-join (every vector → its 5 nearest neighbors): blocked
    local-top-k + one global window merge
    (operators/similarity.py::knn_join_blocked). The kNN-graph builder
    for embedding-space dedup/clustering — shuffle is n·NB·k candidate
    rows, never the n² pair matrix; the oracle re-derives it from the
    full cross join."""
    n = _vecs(spark, sf_dir)
    return knn_join_blocked(n.select("vec_id", "v"), "vec_id", "v", KNN_K)


@staged("kmeans")
def _kmeans_model(spark: SparkSession, sf_dir: str) -> object:
    """Fitted KMeans quantizer, staged per (session, sf) — at scale the
    coarse quantizer is trained ONCE offline and reused by every query;
    training inside each query execution was a bench artifact (VERDICT
    r1), not the production shape."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = _vecs(spark, sf_dir).withColumn("features", array_to_vector(F.col("v")))
    return KMeans(
        k=16, seed=42, featuresCol="features", predictionCol="cid"
    ).fit(train)


@register(
    "sim_topk_kmeans_trained",
    oracle=None,  # trained-model assignment has no SQL twin — rows-only
    tags=("similarity", "ann", "ml", "rows_only"),
)
def sim_topk_kmeans_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of sim_topk_kmeans: IVF with a TRAINED coarse
    quantizer. pyspark.ml KMeans(16, seed fixed) fits centroids, vectors
    are assigned by the model, the query probes its 4 nearest centroid
    buckets, exact cosine ranks within probes. MLlib's KMeans is itself
    a distributed Lloyd's iteration, so the trainer scales with the
    corpus; the model is trained once per (session, sf) and reused
    (_kmeans_model), mirroring offline quantizer training. Because
    trained-model assignment depends on MLlib internals it cannot carry
    a SQL oracle — this key is DELIBERATELY rows-only (the one such key
    in the registry, r6 ADVICE item 1: benchmark output must not claim
    trained-quantizer coverage through the label-seeded twin). Its
    correctness evidence is the measured recall-vs-exact test
    (tests/test_blocked_ops.py::test_kmeans_ivf_recall_vs_exact) and
    the structural invariants shared with the oracle-checked twin."""
    from pyspark.ml.functions import array_to_vector  # noqa: F401

    n = _vecs(spark, sf_dir).withColumn("features", array_to_vector(F.col("v")))
    model = _kmeans_model(spark, sf_dir)
    assign = model.transform(n).select("vec_id", "label", "v", "cid")
    q = (
        assign.orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    )
    centroids = spark.createDataFrame(
        [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())],
        "cid int, cv array<double>",
    )
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc(cosine(F.col("qv"), F.col("cv"))), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") <= 4)
        .select("cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", "cid", cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


KMEANS_N_PROBE = 4

# Shared CTE block: deterministic label-mean centroids (one exact
# Lloyd's assign step, decimal-quantized — embedding_centroids'
# arithmetic) + nearest-centroid assignment. Used by sim_topk_kmeans
# and dedup_semantic.
_SQL_ASSIGN_CTES = f"""
    u AS (
      SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x
      FROM n),
    cl AS (
      SELECT label AS cid, pos,
             floor(sum(x) / count(*) * 1e6 + 0.5) / 1e6 AS cx
      FROM u GROUP BY label, pos),
    c AS (SELECT cid, list(cx ORDER BY pos) AS cv FROM cl GROUP BY cid),
    assign AS (
      SELECT vec_id, label, v, cid FROM (
        SELECT n.vec_id, n.label, n.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {sql_cosine("n.v", "c.cv")} DESC, c.cid) AS rn
        FROM n, c) t
      WHERE rn = 1)
"""


# Single-row broadcast bound for _label_centroid_assignment: k=4096
# centroids × dim≤1024 doubles ≈ 33 MB in one row — comfortably inside
# Spark's per-row and broadcast limits; past it the k-row broadcast
# join is the right shape anyway (per-row cost grows with k while the
# join's stays flat).
_CENTROID_BROADCAST_MAX_K = 4096


def _label_centroid_assignment(n: DataFrame):
    """Spark twin of _SQL_ASSIGN_CTES: returns (centroids c[cid, cv],
    assignment[vec_id, label, v, cid]). Centroid build is one
    (label,pos) partial-agg shuffle; assignment is a TRUE
    broadcast-centroid map pass (r12): the k centroids collect into a
    single broadcast array row and each vector picks
    array_max over (cosine, -cid) — the identical selection the
    oracle's ROW_NUMBER(ORDER BY cosine DESC, cid) makes (same cosine
    doubles, ties to the smallest cid), with NO k-fold row explosion
    and NO vec_id window shuffle. The previous form crossJoined
    vectors × centroids then sorted that frame per vec_id — at 100 TB
    that shuffles k copies of the vector table to rank rows a map-side
    argmax folds in place; pinned value-identical by the tie-heavy
    synthetic in tests/test_plans.py::test_centroid_assignment_argmax
    and the four consumer keys' oracles (sim_topk_kmeans,
    dedup_semantic, sim_recall_report, corpus_dedup_funnel)."""
    cent_long = (
        n.select("label", F.posexplode("v").alias("pos0", "x"))
        .groupBy("label", "pos0")
        .agg(quantize(F.sum("x") / F.count(F.lit(1))).alias("cx"))
    )
    c = cent_long.groupBy(F.col("label").alias("cid")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "cx"))), lambda s: s.cx
        ).alias("cv")
    )
    # r13 guard (ADVICE r12 low #2): the k centroids collapse into ONE
    # row holding k×dim doubles — fine for the small label alphabets
    # this form exists for, but a single row hits Spark's per-row /
    # collect_list limits far sooner than a k-row broadcast would. The
    # bound is enforced at EXECUTION time through a filter on the
    # collapsed row itself (assert_true returns NULL when the bound
    # holds, so the filter passes; a driver-side count() would re-run
    # the centroid aggregate as a second job). Above the bound, route
    # through sim_topk_ivf's k-row broadcast-join assignment instead.
    call = c.agg(F.collect_list(F.struct("cid", "cv")).alias("__cs")).filter(
        F.assert_true(
            F.size("__cs") <= _CENTROID_BROADCAST_MAX_K,
            F.concat(
                F.lit(
                    "_label_centroid_assignment: centroid count "
                ),
                F.size("__cs").cast("string"),
                F.lit(
                    f" exceeds the {_CENTROID_BROADCAST_MAX_K} single-row "
                    "broadcast bound; use a k-row broadcast join "
                    "(sim_topk_ivf's assignment shape) for large k."
                ),
            ),
        ).isNull()
    )
    best = F.array_max(
        F.transform(
            F.col("__cs"),
            lambda s: F.struct(
                cosine(F.col("v"), s.cv).alias("cos"),
                (-s.cid).alias("ncid"),
            ),
        )
    )
    assign = (
        n.crossJoin(F.broadcast(call))
        .select(
            "vec_id",
            "label",
            "v",
            (-best.getField("ncid")).alias("cid"),
        )
    )
    return c, assign


_SQL_KMEANS = f"""
    WITH n AS ({_SQL_VECS}),
    {_SQL_ASSIGN_CTES},
    q AS (SELECT v AS qv, vec_id AS qid FROM n ORDER BY vec_id LIMIT 1),
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY {sql_cosine("q.qv", "c.cv")} DESC, c.cid) AS rn
        FROM c, q) t
      WHERE rn <= {KMEANS_N_PROBE})
    SELECT a.vec_id, a.label, a.cid, {sql_cosine("a.v", "q.qv")} AS cos_sim
    FROM assign a JOIN probes p ON a.cid = p.cid, q
    WHERE a.vec_id <> q.qid
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT {TOP_K}
"""


@register(
    "sim_topk_kmeans",
    oracle=_SQL_KMEANS,
    # NOT tagged 'ml' (r6 ADVICE item 1): the quantizer here is
    # label-SEEDED, not trained — trained-KMeans coverage is the
    # sim_topk_kmeans_trained key below.
    tags=("north_star", "similarity", "ann", "label_seeded"),
)
def sim_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-style coarse quantizer, made oracle-exact: the
    centroids are the per-label mean vectors (embedding_centroids'
    decimal-quantized arithmetic — exactly one Lloyd's step seeded by
    the labels), every vector is assigned to its nearest centroid by
    cosine, the query probes its KMEANS_N_PROBE nearest buckets, and
    exact cosine ranks within probes. Same layout and cost model as the
    trained production form (sim_topk_kmeans_trained, pyspark.ml KMeans
    — quality-tested in tests/test_blocked_ops.py) but with a quantizer
    both engines can re-derive bit-identically, so the approximate plan
    carries a FULL hash oracle: the approximation is in the algorithm,
    which the SQL re-runs, not in the arithmetic. Distributed shape:
    centroid build is one (label,pos) partial-agg shuffle; assignment is
    a broadcast-centroid map pass; a probe touches nprobe/k of the
    corpus."""
    n = _vecs(spark, sf_dir)
    c, assign = _label_centroid_assignment(n)
    q = (
        n.orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    )
    probes = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc(cosine(F.col("qv"), F.col("cv"))), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") <= KMEANS_N_PROBE)
        .select("cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", "cid", cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "embedding_centroids",
    oracle=f"""
    WITH n AS ({_SQL_VECS}),
    u AS (
      SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x
      FROM n)
    SELECT label, CAST(pos AS INT) AS pos,
           floor(sum(x) / count(*) * 1e6 + 0.5) / 1e6 AS centroid
    FROM u GROUP BY label, pos
    """,
    tags=("north_star", "similarity", "centroid"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors — the training primitive behind IVF
    coarse quantizers and k-means (one iteration = assign + THIS).
    Dimension-wise mean via posexplode → groupBy(label, pos): the
    shuffle carries (label, pos, partial sums), n·dim small rows, and
    map-side partial aggregation collapses them before the wire. Output
    stays long-form (label, pos, value) — rebuilding arrays is a
    presentation step, not a compute one. quantize(6) (floor-based,
    registry.quantize) absorbs partition-order float-sum drift
    (sum/count, same op order both engines) without the round()
    half-boundary divergence."""
    n = _vecs(spark, sf_dir)
    u = n.select("label", F.posexplode("v").alias("pos0", "x"))
    return (
        u.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(quantize(F.sum("x") / F.count(F.lit(1))).alias("centroid"))
    )


_SQL_IVF = f"""
    WITH n AS ({_SQL_VECS}),
    c AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id % {CENTROID_MOD} = 0),
    assign AS (
      SELECT vec_id, label, v, cid FROM (
        SELECT n.vec_id, n.label, n.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {sql_cosine("n.v", "c.cv")} DESC, c.cid) AS rn
        FROM n, c) t
      WHERE rn = 1
    ),
    q AS (SELECT v AS qv, vec_id AS qid FROM n ORDER BY vec_id LIMIT 1),
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY {sql_cosine("q.qv", "c.cv")} DESC, c.cid) AS rn
        FROM c, q) t
      WHERE rn <= {N_PROBE}
    )
    SELECT a.vec_id, a.label, a.cid, {sql_cosine("a.v", "q.qv")} AS cos_sim
    FROM assign a JOIN probes p ON a.cid = p.cid, q
    WHERE a.vec_id <> q.qid
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT {TOP_K}
"""


@register("sim_topk_ivf", oracle=_SQL_IVF, tags=("north_star", "similarity", "ann"))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic coarse centroids
    (vec_id % CENTROID_MOD == 0), nearest-centroid assignment (broadcast
    centroids — a TRUE map pass since r12), probe the query's N_PROBE
    nearest buckets.

    The scale path for ANN: assignment is a broadcast crossJoin
    streamed straight into groupBy(vec_id).max_by(…, (cosine, −cid)) —
    the identical pick ROW_NUMBER(ORDER BY cosine DESC, cid) makes, and
    the per-vector argmax collapses MAP-SIDE in the partial aggregate,
    so the exchange carries ONE row per vector (the pre-r12 window form
    shuffled k copies of the corpus and sorted them). Chosen over the
    zero-exchange array_max-lambda form (_label_centroid_assignment's
    shape) per the r12 A/B: at this k the lambda's interpreted
    per-row struct array costs more than the agg's one thin exchange
    (grids in NOTES; both forms are value-identical, the tie fence
    pins this one). A probe touches |corpus|·nprobe/|centroids|
    vectors instead of all. The oracle re-derives the same algorithm,
    so this approximate plan still hash-matches exactly."""
    n = _vecs(spark, sf_dir)
    c = n.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    score = F.struct(
        cosine(F.col("v"), F.col("cv")).alias("cos"),
        (-F.col("cid")).alias("ncid"),
    )
    assign = (
        n.crossJoin(F.broadcast(c))
        .groupBy("vec_id")
        .agg(F.max_by(F.struct("label", "v", "cid"), score).alias("b"))
        .select(
            "vec_id",
            F.col("b.label").alias("label"),
            F.col("b.v").alias("v"),
            F.col("b.cid").alias("cid"),
        )
    )
    q = (
        n.orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    )
    probes = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc(cosine(F.col("qv"), F.col("cv"))), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") <= N_PROBE)
        .select("cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", "cid", cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "embedding_quantize",
    oracle="""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_aggregate(v, 'min') AS mn,
                 list_aggregate(v, 'max') AS mx FROM d)
    SELECT vec_id, mn, mx,
           array_to_string(
             CASE WHEN mx = mn THEN list_transform(v, x -> 0)
                  ELSE list_transform(v,
                         x -> CAST(floor((x - mn) * 255 / (mx - mn) + 0.5)
                                   AS INTEGER))
             END, ',') AS q8_csv
    FROM s
    """,
    tags=("north_star", "similarity", "quantize"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine int8 quantization per vector: store (mn, mx, 64×uint8)
    instead of 64×float32 — ~3.7× smaller, the difference between an
    embedding table that fits the page cache and one that doesn't at
    100 TB. Reconstruction x̂ = mn + q·(mx−mn)/255 carries ≤ half-step
    error (bounded in tests/test_approx_accuracy.py); all arithmetic is
    double-promoted first and the code picks its bin via
    floor(v + 0.5) — exact half-up on the non-negative range, immune to
    the engines' round() half-boundary divergence (registry.quantize
    docstring). Pure
    higher-order array expressions — no UDF, no shuffle, one scan.
    The int8 codes are emitted as a csv scalar (q8_csv) at the output
    boundary (driver canonicalizer can't sort raw array columns); a
    real sink would of course store the packed array/binary form."""
    e = table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    s = d.select(
        "vec_id", "v", F.array_min("v").alias("mn"), F.array_max("v").alias("mx")
    )
    return s.selectExpr(
        "vec_id",
        "mn",
        "mx",
        """array_join(
             CASE WHEN mx = mn THEN transform(v, x -> '0')
                  ELSE transform(v,
                         x -> cast(cast(floor((x - mn) * 255 / (mx - mn) + 0.5)
                                        as int) as string))
             END, ',') AS q8_csv""",
    )


@register(
    "embedding_gram",
    oracle="""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    w AS (SELECT vec_id,
                 list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS w
          FROM n),
    e AS (SELECT vec_id, w, unnest(generate_series(1, len(w))) AS i FROM w)
    SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
           CAST(SUM(a.w[a.i] * b.w[b.i]) AS BIGINT) AS gram_q
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
    tags=("north_star", "similarity", "moments"),
)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix Σ wᵀw over the embedding corpus — the
    sufficient statistic every second-order embedding operation derives
    from (covariance via S − n·μμᵀ with the mean from
    embedding_centroids, then PCA / whitening / Mahalanobis
    driver-side on the dim×dim result). Distributed shape
    (operators/similarity.py::gram_upper_map_in_pandas): one integer
    BLAS matmul per Arrow batch, dim(dim+1)/2-row partials, one
    partial-sum shuffle — vectors never shuffle, the matrix does. The
    oracle computes the same upper triangle via a position self-join
    (quadratic in dim, fine at oracle scale); exact int64 sums of
    floor-quantized components make the compare bit-for-bit. This is
    the engine-primitive twin of pyspark.ml's Summarizer/RowMatrix
    covariance (which are float-accumulating and rows-only-checkable
    by construction)."""
    e = table(spark, sf_dir, "embeddings")
    d = e.select("vec_id", vec_double(F.col("embedding")).alias("v"))
    return gram_upper_map_in_pandas(d, "v")


# --- semantic dedup (SemDeDup) ---------------------------------------------

SEMANTIC_TAU = NEAR_DUP_TAU  # same near-dup threshold as the cosine family


# --- embedding_normalize ---------------------------------------------------


@register(
    "embedding_normalize",
    oracle="""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v,
                 CASE WHEN len(v) > 0 THEN
                   sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                 END AS l2_norm
          FROM d)
    SELECT vec_id,
           floor(l2_norm * 1e6 + 0.5) / 1e6                         AS l2_norm,
           CAST(len(v) AS INT)                                      AS dim,
           floor(CASE WHEN l2_norm > 0 THEN v[1] / l2_norm END
                 * 1e6 + 0.5) / 1e6                                     AS unit0,
           floor(CASE WHEN len(v) > 0 THEN list_aggregate(v, 'sum') / len(v) END
                 * 1e6 + 0.5) / 1e6                                 AS mean_c,
           floor(CASE WHEN len(v) > 0 THEN
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                 END * 1e6 + 0.5) / 1e6                             AS max_abs
    FROM n
    """,
    tags=("similarity", "embedding", "fn"),
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene pass: L2 norm, dimension check, first unit
    component, mean component, max |x| — the validation profile run
    before any similarity work (catching zero vectors, wrong dims,
    unnormalized batches). Degenerate inputs stay visible AND oracle-
    equivalent: a zero-length embedding reports dim=0 with NULL
    norm/moments on both sides (Spark's fold would return the initial
    0.0 where DuckDB's list_aggregate returns NULL — both sides guard
    on emptiness explicitly instead). All higher-order array
    expressions folding
    left-to-right in both engines over double-promoted floats, with a
    round(…,6) boundary as the float-path convention
    (plans/registry.py). No UDF, no shuffle — the scan is the cost, and
    at 100 TB this runs as a side-output of whatever scan touches the
    embeddings anyway."""
    e = table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    nonempty = F.size("v") > 0
    n = d.withColumn(
        "norm_raw",
        F.when(
            nonempty,
            F.sqrt(
                F.expr(
                    "aggregate(transform(v, x -> x * x), cast(0 as double), (a, x) -> a + x)"
                )
            ),
        ),
    )
    return n.select(
        "vec_id",
        quantize(F.col("norm_raw")).alias("l2_norm"),
        F.size("v").alias("dim"),
        quantize(
            F.when(F.col("norm_raw") > 0, F.expr("v[0]") / F.col("norm_raw"))
        ).alias("unit0"),
        quantize(
            F.when(
                nonempty,
                F.expr("aggregate(v, cast(0 as double), (a, x) -> a + x)")
                / F.size("v"),
            )
        ).alias("mean_c"),
        quantize(
            F.when(
                nonempty,
                F.expr(
                    "aggregate(transform(v, x -> abs(x)), cast(0 as double), (a, x) -> greatest(a, x))"
                ),
            )
        ).alias("max_abs"),
    )


# --- sim_maxsim -------------------------------------------------------------
#
# ColBERT-style late interaction: a "document" is a BAG of token
# vectors, and score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d) — the
# retrieval scoring model between single-vector ANN (sim_topk) and
# full cross-attention. Token bags are modeled on the embeddings
# table: vec_id DIV {G} groups 5 consecutive vectors into one bag;
# bag 0 is the query.

_MAXSIM_GROUP = 5
_MAXSIM_TOPK = 10


_MAXSIM_SQL = f"""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    g AS (SELECT vec_id, vec_id // {_MAXSIM_GROUP} AS gid,
                 vec_id % {_MAXSIM_GROUP} AS tix, v FROM n),
    q AS (SELECT tix AS qix, v AS qv FROM g WHERE gid = 0),
    s AS (
      SELECT g.gid, q.qix, max({sql_cosine('g.v', 'q.qv')}) AS m
      FROM g, q WHERE g.gid <> 0
      GROUP BY g.gid, q.qix),
    p AS (
      SELECT gid,
             max(CASE WHEN qix = 0 THEN m END) AS m0,
             max(CASE WHEN qix = 1 THEN m END) AS m1,
             max(CASE WHEN qix = 2 THEN m END) AS m2,
             max(CASE WHEN qix = 3 THEN m END) AS m3,
             max(CASE WHEN qix = 4 THEN m END) AS m4
      FROM s GROUP BY gid)
    SELECT CAST(gid AS BIGINT) AS gid,
           m0 + m1 + m2 + m3 + m4 AS maxsim
    FROM p
    ORDER BY maxsim DESC, gid
    LIMIT {_MAXSIM_TOPK}
    """


@register("sim_maxsim", oracle=_MAXSIM_SQL, tags=("similarity", "north_star", "ml"))
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim top-k over token-bag groups.

    Shapes: the query bag (G rows) BROADCASTS against the token scan;
    per-(bag, query-token) maxima partial-aggregate map-side; the Σ
    over query tokens is a fixed-order column addition on the
    bag-sized frame (row-aggregating doubles would be partition-order
    dependent — the one wrong way to write MaxSim). TakeOrdered heap
    for the top-k. At 100 TB: token vectors never shuffle — only
    (gid, qix, max) partials; this is the documented scale shape of
    late-interaction scoring (score-then-prune, no index)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", vec_double(F.col("embedding")).alias("v")
    )
    g = e.select(
        F.expr(f"vec_id DIV {_MAXSIM_GROUP}").alias("gid"),
        (F.col("vec_id") % _MAXSIM_GROUP).alias("tix"),
        "v",
    )
    q = g.filter(F.col("gid") == 0).select(
        F.col("tix").alias("qix"), F.col("v").alias("qv")
    )
    s = (
        g.filter(F.col("gid") != 0)
        .crossJoin(F.broadcast(q))
        .groupBy("gid", "qix")
        .agg(F.max(cosine(F.col("v"), F.col("qv"))).alias("m"))
    )
    p = s.groupBy("gid").agg(
        *[
            F.max(F.when(F.col("qix") == i, F.col("m"))).alias(f"m{i}")
            for i in range(_MAXSIM_GROUP)
        ]
    )
    maxsim = F.col("m0") + F.col("m1") + F.col("m2") + F.col("m3") + F.col("m4")
    return (
        p.select(F.col("gid").cast("bigint").alias("gid"), maxsim.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("gid"))
        .limit(_MAXSIM_TOPK)
    )


# --- sim_topk_filtered ------------------------------------------------------
#
# FILTERED vector search: top-k cosine neighbors of the query vector
# WITHIN each label class (the "metadata-filtered ANN" every modern
# vector store names as a first-class feature — filter-then-score, not
# score-then-filter, so the predicate prunes the scan before any
# distance math). Composes the similarity family's exact scorer with a
# per-label rank window.

_FILTERED_TOPK = 3


def _filtered_sql() -> str:
    from etl_cnpjs_spark.operators.similarity import sql_cosine

    return f"""
    WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM n ORDER BY vec_id LIMIT 1),
    s AS (
      SELECT n.vec_id, n.label, {sql_cosine('n.v', 'q.qv')} AS cos_sim
      FROM n, q
      WHERE n.vec_id <> (SELECT min(vec_id) FROM n)),
    r AS (
      SELECT vec_id, label, cos_sim,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos_sim DESC, vec_id) AS rk
      FROM s)
    SELECT label, CAST(rk AS BIGINT) AS rk, vec_id, cos_sim
    FROM r WHERE rk <= {_FILTERED_TOPK}
    """


@register(
    "sim_topk_filtered",
    oracle=_filtered_sql(),
    tags=("similarity", "north_star", "ml"),
)
def sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label top-k cosine neighbors of the corpus's first vector.

    Shapes: the 1-row query broadcasts; scoring is scan-side (the
    label predicate — here the partition itself — prunes BEFORE
    distance math, the filtered-ANN contract); the per-label top-k is
    one rank window over the scored frame. At 100 TB with a selective
    label filter this is a fraction-of-scan scorer + a tiny window —
    the production argument for storing label as a partition column.
    Determinism: cosine is the sequential-fold dot (bit-exact), rank
    ties break on vec_id."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vec_double(F.col("embedding")).alias("v")
    )
    q = (
        e.orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    )
    s = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
    )
    from pyspark.sql.window import Window as W

    r = s.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        ),
    )
    return r.filter(F.col("rk") <= _FILTERED_TOPK).select(
        "label", F.col("rk").cast("bigint").alias("rk"), "vec_id", "cos_sim"
    )


# --- sim_random_projection --------------------------------------------------
#
# Johnson–Lindenstrauss sign projection: embed 64-d vectors into 8
# dims via a FIXED ±1 matrix (seeded, embedded as literals in both
# plans — no runtime randomness), scaled by 1/√8. The
# dimensionality-reduction front end for sketch-space ANN (SimHash is
# this matrix's sign bits; here the projected coordinates themselves
# are the output). Dot products reuse the sequential-fold /
# list_dot_product pair every cosine key already proved
# engine-identical at 1e-6 quantization.


_RP_DIMS = 8
_RP_IN = 64
_rp_rng = _random.Random(20260815)
_RP_SIGNS = [
    [float(_rp_rng.choice((-1, 1))) for _ in range(_RP_IN)] for _ in range(_RP_DIMS)
]
_RP_SCALE = 0.3535533905932738  # 1/sqrt(8), fixed literal both engines


def _rp_oracle() -> str:
    cols = []
    for k, row in enumerate(_RP_SIGNS):
        lit = "[" + ", ".join(str(s) for s in row) + "]::DOUBLE[]"
        cols.append(
            f"floor(list_dot_product(embedding::DOUBLE[], {lit})"
            f" * {_RP_SCALE} * 1e6 + 0.5) / 1e6 AS proj_{k}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


@register("sim_random_projection", oracle=_rp_oracle(), tags=("similarity", "ml"))
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 sign projection 64-d → 8-d (quantized doubles).

    Shapes: pure per-row map — zero shuffles; the 8×64 matrix lives in
    the plan as literals (closed over at codegen, broadcast-free). The
    fold/list_dot_product determinism pair is the one
    operators/similarity.py established. At 100 TB this is the
    cheapest pre-LSH compaction: 8 doubles/row downstream instead of
    64 floats."""
    from etl_cnpjs_spark.operators.similarity import dot, vec_double

    e = table(spark, sf_dir, "embeddings")
    v = vec_double(F.col("embedding"))
    out = [F.col("vec_id")]
    for k, row in enumerate(_RP_SIGNS):
        signs = F.array(*[F.lit(s) for s in row])
        out.append(
            (
                F.floor(dot(v, signs) * _RP_SCALE * 1e6 + 0.5) / 1e6
            ).alias(f"proj_{k}")
        )
    return e.select(*out)


# --- embedding_pq -----------------------------------------------------------
#
# Product quantization (Jégou et al.): split each 64-d vector into 8
# subvectors of 8 dims, assign each to the nearest of 4 codebook
# entries per subspace, emit the 8 codes + total quantization error —
# the compression layout inside IVF-PQ indexes (8 bytes/vector
# instead of 256). Codebook = the subvectors of vec_id 0..3 (the
# k-means++ seeding step, frozen — deterministic both engines; a
# production index refines it with embedding_centroids iterations).
# Distances use the dot-product identity ‖a−b‖² = a·a − 2a·b + b·b in
# the SAME textual order both sides, micro-quantized BEFORE the
# argmin so ties and comparisons are integer.

_PQ_SUBS = 8
_PQ_SUBDIM = 8
_PQ_K = 4


def _pq_oracle() -> str:
    return f"""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < {_PQ_K}),
    sub AS (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s),
    d AS (
      SELECT n.vec_id, sub.s, seeds.cid,
             CAST(floor((
               list_dot_product(n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                    (sub.s + 1) * {_PQ_SUBDIM}],
                                n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                    (sub.s + 1) * {_PQ_SUBDIM}])
               - 2 * list_dot_product(n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                          (sub.s + 1) * {_PQ_SUBDIM}],
                                      seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                               (sub.s + 1) * {_PQ_SUBDIM}])
               + list_dot_product(seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                           (sub.s + 1) * {_PQ_SUBDIM}],
                                  seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                           (sub.s + 1) * {_PQ_SUBDIM}])
             ) * 1000000 + 0.5) AS BIGINT) AS dist_micro
      FROM n CROSS JOIN sub CROSS JOIN seeds),
    best AS (
      SELECT vec_id, s, cid, dist_micro,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY dist_micro, cid) AS rk
      FROM d)
    SELECT vec_id,
           {', '.join(f"CAST(max(CASE WHEN s = {k} THEN cid END) AS BIGINT) AS code_{k}" for k in range(_PQ_SUBS))},
           CAST(sum(dist_micro) AS BIGINT) AS err_micro
    FROM best WHERE rk = 1 GROUP BY vec_id
    """


@register("embedding_pq", oracle=_pq_oracle(), tags=("similarity", "ml"))
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (8 × 2-bit) + reconstruction error
    per vector (integer micro).

    Shapes: the codebook frame is {_PQ_K} rows and BROADCAST; the
    (vector × 8 subspaces × 4 centroids) expansion is scan-side and
    narrow (32 small rows per vector), collapsed by one vec_id-keyed
    aggregate (the argmin folds into max-CASE over the rank window
    partitioned on (vec_id, s) — same exchange). At 100 TB: PQ codes
    shrink the ANN candidate scan 32×; assignment is embarrassingly
    parallel, exactly this plan with a trained codebook."""
    from etl_cnpjs_spark.operators.similarity import dot, vec_double

    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", vec_double(F.col("embedding")).alias("v")
    )
    seeds = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    sub = F.expr(f"explode(sequence(0, {_PQ_SUBS - 1}))").alias("s")
    exp = e.select("vec_id", "v", sub).crossJoin(F.broadcast(seeds))
    va = F.expr(f"slice(v, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})")
    vb = F.expr(f"slice(cv, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})")
    dist = dot(va, va) - 2 * dot(va, vb) + dot(vb, vb)
    d = exp.select(
        "vec_id",
        "s",
        "cid",
        F.floor(dist * 1000000 + 0.5).cast("bigint").alias("dist_micro"),
    )
    best = d.select(
        "vec_id",
        "s",
        "cid",
        "dist_micro",
        F.row_number()
        .over(W.partitionBy("vec_id", "s").orderBy("dist_micro", "cid"))
        .alias("rk"),
    )
    aggs = [
        F.max(F.when(F.col("s") == k, F.col("cid")))
        .cast("bigint")
        .alias(f"code_{k}")
        for k in range(_PQ_SUBS)
    ]
    return (
        best.filter(F.col("rk") == 1)
        .groupBy("vec_id")
        .agg(
            *aggs,
            F.sum("dist_micro").cast("bigint").alias("err_micro"),
        )
    )


# --- sim_recall_report -------------------------------------------------------
#
# Per-query recall@k of the IVF index (sim_topk_kmeans's label-seeded
# coarse quantizer) against the exact brute-force top-k, over a fixed
# probe set of the NQ lowest vec_ids. This is the index-quality gate a
# pipeline runs before trusting ANN dedup/search at scale: recall is
# computed IN-PLAN (no collect), and because the quantizer is the
# oracle-derivable one, the whole eval — exact ranking, bucket probing,
# IVF ranking, overlap — carries a full DuckDB hash oracle. The
# trained-quantizer twin keeps its recall evidence in
# tests/test_blocked_ops.py::test_kmeans_ivf_recall_vs_exact.

RECALL_NQ = 20  # probe-set size: the NQ lowest vec_ids query the index


def _recall_oracle() -> str:
    from etl_cnpjs_spark.operators.similarity import sql_cosine
    from etl_cnpjs_spark.plans.similarity import (
        _SQL_ASSIGN_CTES,
        _SQL_VECS,
        KMEANS_N_PROBE,
        TOP_K,
    )

    return f"""
    WITH n AS ({_SQL_VECS}),
    {_SQL_ASSIGN_CTES},
    q AS (SELECT vec_id AS qid, v AS qv FROM n ORDER BY vec_id
          LIMIT {RECALL_NQ}),
    ex AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, n.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {sql_cosine("n.v", "q.qv")} DESC, n.vec_id) AS rn
        FROM n, q WHERE n.vec_id <> q.qid) t
      WHERE rn <= {TOP_K}),
    pr AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {sql_cosine("q.qv", "c.cv")} DESC, c.cid) AS rn
        FROM c, q) t
      WHERE rn <= {KMEANS_N_PROBE}),
    iv AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                 ORDER BY {sql_cosine("a.v", "q.qv")} DESC, a.vec_id) AS rn
        FROM assign a JOIN pr p ON a.cid = p.cid
        JOIN q ON q.qid = p.qid
        WHERE a.vec_id <> p.qid) t
      WHERE rn <= {TOP_K})
    SELECT ex.qid,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(count(iv.vec_id) AS BIGINT) AS n_overlap,
           CAST(count(iv.vec_id) * 1000000 // {TOP_K} AS BIGINT)
             AS recall_micro
    FROM ex LEFT JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
    GROUP BY ex.qid
    """


@register(
    "sim_recall_report",
    oracle=_recall_oracle(),
    tags=("north_star", "similarity", "ann", "eval"),
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the label-seeded IVF against exact
    brute-force: (qid, k, n_overlap, recall_micro) for the RECALL_NQ
    lowest vec_ids.

    Shapes: the probe set and the centroid table are broadcast (NQ
    and |labels| rows); the exact side is ONE corpus scan scored
    against all NQ probes (cross of corpus x broadcast probes),
    ranked by a window on qid — the exchange carries corpus x NQ
    narrow rows, the documented cost of measuring exact ground truth
    on a SAMPLED probe set (how ANN recall is measured in production;
    never all-queries). The IVF side reuses the broadcast-centroid
    assignment pass and touches only probed buckets per query. Both
    rankings break cosine ties by vec_id and quantize nothing — every
    compared value is an exact integer count; recall_micro is an
    exact integer ratio (count * 1e6 / k).

    The trained-quantizer twin (sim_topk_kmeans_trained) keeps its
    recall evidence in tests/test_blocked_ops.py — this key makes the
    oracle-derivable index's quality a hash-checked, distributed
    query."""
    from etl_cnpjs_spark.operators.similarity import cosine
    from etl_cnpjs_spark.plans.similarity import (
        KMEANS_N_PROBE,
        TOP_K,
        _label_centroid_assignment,
        _vecs,
    )

    n = _vecs(spark, sf_dir)
    q = (
        n.orderBy("vec_id")
        .limit(RECALL_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    wq = Window.partitionBy("qid")

    ex = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("v"), F.col("qv"))), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )

    c, assign = _label_centroid_assignment(n)
    pr = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("qv"), F.col("cv"))), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") <= KMEANS_N_PROBE)
        .select("qid", "cid")
    )
    iv = (
        assign.join(F.broadcast(pr), "cid")
        .join(F.broadcast(q), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("v"), F.col("qv"))), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("iv_id"), F.lit(1).alias("_hit"))
    )

    return (
        ex.join(
            iv,
            (ex["qid"] == iv["qid"]) & (ex["vec_id"] == iv["iv_id"]),
            "left",
        )
        .select(ex["qid"], "_hit")
        .groupBy("qid")
        .agg(
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.count("_hit").cast("bigint").alias("n_overlap"),
            F.expr(f"CAST(count(_hit) * 1000000 DIV {TOP_K} AS BIGINT)").alias(
                "recall_micro"
            ),
        )
    )
