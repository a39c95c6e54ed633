"""Round-6 session-4 batches: exact-substring span dedup (the Lee et
al. ExactSubstr form), ML feature engineering (leave-one-out target
encoding), and the experimentation kit's causal pair (difference-in-
differences, CUPED variance reduction).

Reference trace: none of this surface exists in the reference
(ETLCNPJFinalEmpresaEstabelecimentos.py); these extend the
text/agg/events families along SURVEY.md §2.2b, each with a full
DuckDB oracle.

Determinism notes (house rules, registry.py module docstring):
- everything integer where possible (token positions, cents, micro
  values, ppm via bigint DIV);
- any double arithmetic runs the SAME formula text over identical
  integer inputs on both engines and quantizes at the output boundary
  (the graph_assortativity "fixed Pearson finish" discipline);
- orderings are total (unique-key tiebreakers); no row-order reliance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import register
from etl_cnpjs_spark.staging import session_tmpdir, staged

# --- text_exact_substr_spans -------------------------------------------------
#
# ExactSubstr deduplication (Lee et al., "Deduplicating Training Data
# Makes Language Models Better", 2022): find the maximal token spans of
# each document whose every k-gram occurs MORE THAN ONCE in the corpus
# (including intra-document repeats — the suffix-array criterion is
# global occurrence count > 1). The paper builds a suffix array; the
# distributed re-expression is positional k-gram postings + a
# gaps-and-islands merge, which computes the identical span set for
# runs of >= 2 overlapping duplicated k-grams:
#   a span [a, b+k-1] is emitted  <=>  gram positions a..b are all
#   duplicated and a-1, b+1 are not (or fall off the doc).
# Downstream, these spans are what a curation pipeline CUTS from the
# corpus (text_dup_span_frac reports the fraction; this key emits the
# actionable byte ranges).

_SUBSTR_K = 8  # tokens per gram; spans are >= _SUBSTR_K + 1 tokens

_SUBSTR_SQL = rf"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    gp AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               1, greatest(len(toks) - {_SUBSTR_K - 1}, 0))) AS pos
      FROM d
    ),
    g AS (
      SELECT doc_id, pos,
             array_to_string(toks[pos:pos + {_SUBSTR_K - 1}], ' ') AS gram
      FROM gp
    ),
    dup AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gram) AS c
            FROM g)
      WHERE c >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dup
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT)                         AS start_tok,
           CAST(max(pos) + {_SUBSTR_K - 1} AS BIGINT)       AS end_tok,
           CAST(max(pos) - min(pos) + {_SUBSTR_K} AS BIGINT) AS n_tokens
    FROM isl
    GROUP BY doc_id, grp
    HAVING count(*) >= 2
"""


@register(
    "text_exact_substr_spans",
    oracle=_SUBSTR_SQL,
    tags=("text", "dedup", "north_star"),
)
def text_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document (ExactSubstr dedup).

    Shapes, in order: (1) positional k-grams built by zipping k shifted
    slices — every `toks` reference sits OUTSIDE the lambda (sharp edge
    #10: no CSE inside higher-order lambdas), so tokenization runs a
    constant k+2 times per row, not once per element; (2) duplicated-
    gram detection is a count window over the gram key — ONE
    gram-keyed exchange, no groupBy+rejoin (the dedup_stopshingle
    discipline); (3) the islands merge is a doc-keyed window pair
    (row_number diff → groupBy), the interval-merge discipline on the
    SECOND exchange. Total: two exchanges, both on natural keys.

    Scale: postings are LINEAR in corpus tokens (~n_tokens rows of
    (gram, doc, pos)); there is no pair enumeration anywhere — this is
    the member of the dedup family that survives past where even
    banded pair generation gets expensive, which is exactly why the
    ExactSubstr form is used at the largest corpus scales. Skewed
    grams (boilerplate) cost only window-count time, not candidate
    pairs. At 100 TB the gram exchange is the cost; a df-cap is NOT
    applied because dropping hot grams would split true spans —
    instead hot grams stay cheap by never being joined, only counted.
    """
    docs = table(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    return exact_substr_spans(docs, k=_SUBSTR_K)


def exact_substr_spans(docs: DataFrame, k: int, min_grams: int = 2) -> DataFrame:
    """ExactSubstr span operator over any (doc_id, text) frame — the
    reusable form text_exact_substr_spans registers and the property
    test drives on generated corpora. Returns (doc_id, start_tok,
    end_tok, n_tokens) for maximal runs of >= min_grams duplicated
    k-grams (1-based token positions, inclusive ends)."""
    d = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    # positional (NON-distinct) k-grams: one transform over start
    # positions, each gram a single slice+join — replaces the k-1
    # chained zip_with passes that built k-1 intermediate full-width
    # string arrays per row (interpreted higher-order exprs; A/B at
    # sf0.1: 1.1 → 0.55 s for the gram stage, rows bit-identical).
    # sequence(1, size-k+1) is safe only under the size >= k filter
    # below — Spark's sequence DESCENDS when stop < start.
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
        lambda i: F.array_join(F.slice(F.col("toks"), i, k), " "),
    )
    # count duplicates over a 128-bit gram hash (a pair of
    # independently-seeded xxhash64 columns), not the gram STRING: the
    # gram exchange is this plan's dominant cost and only the count is
    # needed downstream, so shuffle (doc_id, pos, 16-byte hash) instead
    # of (doc_id, pos, ~50-byte 8-gram) — ~2× fewer shuffle bytes and
    # long-vs-string sort keys (guide §2.3). r14 widening (VERDICT r13
    # #3 / ADVICE): a single 64-bit key hits P(any collision)=1% near
    # 6×10⁸ grams — CROSSED at the declared 100 TB posture (~10¹³
    # grams), where a collision falsely marks a unique gram duplicated
    # and the downstream clean cuts never-duplicated text. The seeded
    # pair holds P=1% out past 2×10¹⁸ grams; both hashes are one extra
    # column on the same single exchange, and the window partitions by
    # (gh1, gh2) — same plan shape. SCALE.md 'hashed shuffle keys'
    # records the per-site bounds.
    g = (
        d.filter(F.size("toks") >= k)
        .select("doc_id", F.posexplode(ngrams).alias("pos0", "gram"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("gh1"),
            F.xxhash64(F.lit(1), "gram").alias("gh2"),
        )
    )
    dup = (
        g.withColumn("c", F.count(F.lit(1)).over(W.partitionBy("gh1", "gh2")))
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            (F.max("pos") + (k - 1)).cast("bigint").alias("end_tok"),
            (F.max("pos") - F.min("pos") + k).cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") >= min_grams)
        .select("doc_id", "start_tok", "end_tok", "n_tokens")
    )


# --- agg_target_encode -------------------------------------------------------
#
# Leave-one-out target encoding — the ML feature-engineering staple for
# high-cardinality categoricals: each row's encoding is the target mean
# of its category EXCLUDING the row itself, so the feature carries no
# leakage of its own label. Exact integer form: target in cents,
# encoding in micro-cents via bigint floor division.

_TENC_SQL = """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    w AS (
      SELECT o_orderkey, o_orderpriority, cents,
             CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS HUGEINT)
               AS s,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM o
    )
    SELECT o_orderkey, o_orderpriority,
           CAST((s - cents) * 1000000 // (n - 1) AS BIGINT)
             AS loo_mean_microcents
    FROM w
    WHERE n > 1
"""


@register("agg_target_encode", oracle=_TENC_SQL, tags=("agg", "ml"))
def agg_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_orderpriority against
    o_totalprice (cents), emitted per row in micro-cents.

    Shape: ONE category-keyed exchange serves both window aggregates
    (sum and count share the partition); the per-row arithmetic is
    scan-side codegen. No self-join, no second pass — the (sum − y) /
    (n − 1) identity is what makes LOO encoding a single-window
    operation instead of an n-fold recompute.

    Accumulation regime (r8, promoted after the r7 100× stress): the
    window sum runs in DECIMAL(38,0) — the r7 noop-materialized probe
    proved the bigint form's (s − cents)·1e6 overflows int64 under
    ANSI at ~15 M same-category rows (3 M rows/category, exactly the
    docstring's predicted past-sf1 boundary), so the registered plan
    is the form that is correct at ANY volume: ~1e38 headroom, and
    `DIV` on decimals still returns the exact BIGINT quotient, so the
    output is bit-identical to the int64 form everywhere below the
    boundary (DuckDB's HUGEINT sum widens the same way — the oracle's
    arithmetic is unchanged). The int64 form is the documented fast
    path (~25% cheaper at sf0.1, tools/stress_r7.py at fc69e2e) for
    deployments that can BOUND per-category sums below 2^63/1e6; past ~1e8
    rows/category the right rewrite is the (sum, count) groupBy +
    broadcast-join-back of the same LOO identity — window parallelism
    is capped at |categories| long before arithmetic overflows."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    w = W.partitionBy("o_orderpriority")
    return (
        o.withColumn("s", F.sum(F.col("cents").cast("decimal(38,0)")).over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("n") > 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.expr("CAST((s - cents) * 1000000 DIV (n - 1) AS BIGINT)").alias(
                "loo_mean_microcents"
            ),
        )
    )


# --- events_did --------------------------------------------------------------
#
# Difference-in-differences over the events stream: users hash-split
# into control (user_id % 2 = 0) / treatment (1), time split at the
# corpus midpoint timestamp; the DiD estimate is
#   (treat_post − treat_pre) − (ctrl_post − ctrl_pre)
# over floored micro-means. Completes the experimentation kit's causal
# face beside events_ab_lift / _ab_ttest / power / SRM / CUPED.

_DID_SQL = """
    WITH b AS (
      SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
               AS mid_us
      FROM events
    ),
    e AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
             CASE WHEN epoch_us(ts) <= b.mid_us
                  THEN 0 ELSE 1 END AS post,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vmicro
      FROM events, b
    ),
    cell AS (
      SELECT variant, post,
             count(*) AS n,
             CAST(CAST(sum(vmicro) AS BIGINT) // count(*) AS BIGINT)
               AS mean_micro
      FROM e GROUP BY 1, 2
    ),
    piv AS (
      SELECT variant,
             CAST(sum(CASE WHEN post = 0 THEN n END) AS BIGINT)   AS n_pre,
             CAST(sum(CASE WHEN post = 1 THEN n END) AS BIGINT)   AS n_post,
             min(CASE WHEN post = 0 THEN mean_micro END)          AS mean_pre_micro,
             min(CASE WHEN post = 1 THEN mean_micro END)          AS mean_post_micro
      FROM cell GROUP BY 1
    )
    SELECT variant, n_pre, n_post, mean_pre_micro, mean_post_micro,
           CAST(mean_post_micro - mean_pre_micro AS BIGINT) AS delta_micro,
           CAST(sum(CASE WHEN variant = 1
                         THEN mean_post_micro - mean_pre_micro
                         ELSE -(mean_post_micro - mean_pre_micro) END)
                OVER () AS BIGINT) AS did_micro
    FROM piv
"""


@register("events_did", oracle=_DID_SQL, tags=("events", "ml", "stats"))
def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: per-variant pre/post floored
    micro-means and the DiD estimate (identical on both rows — the
    2-row frame IS the report).

    Shapes: the midpoint is a 1-row global aggregate broadcast onto the
    scan (the text_tfidf n_docs discipline — no driver collect); the
    cell aggregate is ONE map-side-combined groupBy over 4 cells; the
    pivot and DiD window run on 4→2 rows. Exactly one real exchange at
    any scale. Micro-means use bigint floor division — identical in
    both engines, no float means anywhere."""
    ev = table(spark, sf_dir, "events")
    us_spark = F.unix_micros("ts")  # exact-integer twin of epoch_us()
    b = ev.agg(
        F.min(us_spark).alias("mn"), F.max(us_spark).alias("mx")
    ).select(F.expr("CAST((mn + mx) DIV 2 AS BIGINT)").alias("mid_us"))
    e = ev.crossJoin(F.broadcast(b)).select(
        (F.col("user_id") % 2).cast("bigint").alias("variant"),
        F.when(us_spark <= F.col("mid_us"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("post"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("vmicro"),
    )
    cell = e.groupBy("variant", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(vmicro) DIV count(1) AS BIGINT)").alias("mean_micro"),
    )
    piv = cell.groupBy("variant").agg(
        F.sum(F.when(F.col("post") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_pre"),
        F.sum(F.when(F.col("post") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_post"),
        F.min(F.when(F.col("post") == 0, F.col("mean_micro"))).alias(
            "mean_pre_micro"
        ),
        F.min(F.when(F.col("post") == 1, F.col("mean_micro"))).alias(
            "mean_post_micro"
        ),
    )
    delta = F.col("mean_post_micro") - F.col("mean_pre_micro")
    return piv.select(
        "variant",
        "n_pre",
        "n_post",
        "mean_pre_micro",
        "mean_post_micro",
        delta.cast("bigint").alias("delta_micro"),
        F.sum(
            F.when(F.col("variant") == 1, delta).otherwise(-delta)
        )
        .over(W.partitionBy())
        .cast("bigint")
        .alias("did_micro"),
    )


# --- agg_cuped ---------------------------------------------------------------
#
# CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et al.
# 2013): variance-reduce the post-period metric with the user's
# pre-period covariate. Per user: x = pre-period floored micro-mean,
# y = post-period floored micro-mean (users active in BOTH halves).
# theta = cov(x, y) / var(x) pooled across variants; the adjusted
# per-variant mean is mean(y) - theta * (mean(x) - xbar_global).
# All sufficient statistics accumulate exactly in DECIMAL(38,0); the
# finish is one fixed double expression over identical integers on
# both engines (the graph_assortativity discipline), quantized 1e-6.

_CUPED_SQL = """
    WITH b AS (
      SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
               AS mid_us
      FROM events
    ),
    u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(CAST(sum(CASE WHEN epoch_us(ts) <= b.mid_us
                                THEN CAST(floor(value * 1000000 + 0.5)
                                          AS BIGINT) END) AS BIGINT)
                  // count(CASE WHEN epoch_us(ts) <= b.mid_us
                               THEN 1 END) AS BIGINT) AS x,
             CAST(CAST(sum(CASE WHEN epoch_us(ts) > b.mid_us
                                THEN CAST(floor(value * 1000000 + 0.5)
                                          AS BIGINT) END) AS BIGINT)
                  // count(CASE WHEN epoch_us(ts) > b.mid_us
                               THEN 1 END) AS BIGINT) AS y
      FROM events, b
      GROUP BY 1, 2
      HAVING count(CASE WHEN epoch_us(ts) <= b.mid_us THEN 1 END) > 0
         AND count(CASE WHEN epoch_us(ts) > b.mid_us THEN 1 END) > 0
    ),
    g AS (
      SELECT CAST(count(*) AS DECIMAL(38,0))        AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0))
                      * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
      FROM u
    ),
    v AS (
      SELECT variant,
             CAST(count(*) AS BIGINT)                      AS n_users,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vsx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vsy
      FROM u GROUP BY 1
    )
    SELECT v.variant, v.n_users,
           CAST(CAST(v.vsy AS BIGINT) // v.n_users AS BIGINT)
             AS mean_y_micro,
           floor((CAST(v.vsy AS DOUBLE) / CAST(v.n_users AS DOUBLE)
                  - (CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
                     - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
                    / (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
                       - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
                    * (CAST(v.vsx AS DOUBLE) / CAST(v.n_users AS DOUBLE)
                       - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS mean_adj_micro,
           floor((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
                  - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
                 / (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
                    - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS theta_q,
           floor((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
                  - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
                 * (CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
                    - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
                 / ((CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
                     - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
                    * (CAST(g.n AS DOUBLE) * CAST(g.syy AS DOUBLE)
                       - CAST(g.sy AS DOUBLE) * CAST(g.sy AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS rho2_q
    FROM v, g
"""


@register("agg_cuped", oracle=_CUPED_SQL, tags=("agg", "ml", "stats"))
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment means per variant, with pooled theta
    and rho-squared (the variance-reduction fraction) repeated on both
    rows.

    Shapes: midpoint is a broadcast 1-row aggregate; the user-grain
    x/y frame is ONE user-keyed exchange (conditional aggregation —
    pre and post fold in the same pass, no self-join); the pooled
    sufficient statistics are a 1-row reduce over that frame (six
    DECIMAL(38,0) sums — exact at any n), broadcast back onto the
    2-row variant rollup. Two real exchanges total, both user-keyed.

    Portability: x, y are floored bigint micro-means, so every double
    in the finish is cast from an exact integer; the theta / adjusted-
    mean / rho-squared expressions are textually identical on both
    engines and quantized at 1e-6 (graph_assortativity discipline).
    """
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    b = ev.agg(
        F.min(us).alias("mn"), F.max(us).alias("mx")
    ).select(F.expr("CAST((mn + mx) DIV 2 AS BIGINT)").alias("mid_us"))
    vm = F.floor(F.col("value") * 1000000 + 0.5).cast("bigint")
    e = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        (F.col("user_id") % 2).cast("bigint").alias("variant"),
        F.when(us <= F.col("mid_us"), vm).alias("pre_v"),
        F.when(us > F.col("mid_us"), vm).alias("post_v"),
    )
    u = (
        e.groupBy("user_id", "variant")
        .agg(
            F.expr(
                "CAST(CAST(sum(pre_v) AS BIGINT) DIV count(pre_v) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(CAST(sum(post_v) AS BIGINT) DIV count(post_v)"
                " AS BIGINT)"
            ).alias("y"),
            F.count("pre_v").alias("_np"),
            F.count("post_v").alias("_nq"),
        )
        .filter((F.col("_np") > 0) & (F.col("_nq") > 0))
        .select("user_id", "variant", "x", "y")
    )
    dec = "DECIMAL(38,0)"
    g = u.agg(
        F.expr(f"CAST(count(1) AS {dec})").alias("n"),
        F.expr(f"CAST(sum(CAST(x AS {dec})) AS {dec})").alias("sx"),
        F.expr(f"CAST(sum(CAST(y AS {dec})) AS {dec})").alias("sy"),
        F.expr(
            f"CAST(sum(CAST(x AS {dec}) * CAST(y AS {dec})) AS {dec})"
        ).alias("sxy"),
        F.expr(
            f"CAST(sum(CAST(x AS {dec}) * CAST(x AS {dec})) AS {dec})"
        ).alias("sxx"),
        F.expr(
            f"CAST(sum(CAST(y AS {dec}) * CAST(y AS {dec})) AS {dec})"
        ).alias("syy"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr(f"CAST(sum(CAST(x AS {dec})) AS {dec})").alias("vsx"),
        F.expr(f"CAST(sum(CAST(y AS {dec})) AS {dec})").alias("vsy"),
    )
    cov = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    varx = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    vary = (
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    return v.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_users",
        F.expr("CAST(CAST(vsy AS BIGINT) DIV n_users AS BIGINT)").alias(
            "mean_y_micro"
        ),
        F.expr(
            "floor((CAST(vsy AS DOUBLE) / CAST(n_users AS DOUBLE)"
            f" - {cov} / {varx}"
            " * (CAST(vsx AS DOUBLE) / CAST(n_users AS DOUBLE)"
            " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
            " * 1e6 + 0.5) / 1e6"
        ).alias("mean_adj_micro"),
        F.expr(f"floor({cov} / {varx} * 1e6 + 0.5) / 1e6").alias("theta_q"),
        F.expr(
            f"floor({cov} * {cov} / ({varx} * {vary}) * 1e6 + 0.5) / 1e6"
        ).alias("rho2_q"),
    )


# --- agg_mann_kendall --------------------------------------------------------
#
# Mann–Kendall trend test per event_type over the DAILY count series:
# S = sum over day pairs i<j of sign(c_j - c_i), with Kendall's tau as
# S / (n(n-1)/2) in ppm. The nonparametric "is this metric drifting"
# monitor — no distributional assumption, integer throughout.

_MK_SQL = """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN b.c > a.c THEN 1
                         WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s,
           CAST(sum(CASE WHEN b.c > a.c THEN 1
                         WHEN b.c < a.c THEN -1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS tau_ppm
    FROM d a JOIN d b
      ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY a.event_type
"""


@register("agg_mann_kendall", oracle=_MK_SQL, tags=("agg", "stats", "events"))
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall S statistic and Kendall tau (ppm) per event_type
    over daily counts.

    Shapes: the daily rollup is one map-side-combined groupBy; the
    pair enumeration self-joins the DAILY frame (rows bounded by
    |types| x |calendar days| — sf-independent once the calendar
    saturates, so the quadratic term is bounded by days², never by
    event volume; at 100 TB the series length is still the calendar).
    Both join sides come from the same tiny aggregate, so AQE
    broadcasts one side. Integer sign sums; tau via bigint DIV."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = d.select("event_type", F.col("day").alias("di"), F.col("c").alias("ci"))
    bb = d.select(
        "event_type", F.col("day").alias("dj"), F.col("c").alias("cj")
    )
    j = a.join(bb, "event_type").filter(F.col("di") < F.col("dj"))
    sgn = (
        F.when(F.col("cj") > F.col("ci"), 1)
        .when(F.col("cj") < F.col("ci"), -1)
        .otherwise(0)
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(sgn).cast("bigint").alias("s"),
        F.expr(
            "CAST(sum(CASE WHEN cj > ci THEN 1 WHEN cj < ci THEN -1"
            " ELSE 0 END) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("tau_ppm"),
    )


# --- graph_random_walk -------------------------------------------------------
#
# Deterministic 3-step "random" walks from every node of the near-dup
# graph — the DeepWalk/node2vec sampling primitive, made exactly
# oracle-checkable by replacing the RNG with a hash argmin: at step t
# from node u, the walk moves to the neighbor v minimizing
# md5('t|u|v') (ties impossible: the tie-break key appends v). Every
# engine computes the identical walk, rerun-identical — the same
# trick that made the Poisson bootstrap and hash sampling exact keys.

_RW_STEPS = 3


def _rw_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS

    steps = []
    prev_cols = "n.node AS node"
    prev = "nodes n"
    for t in range(1, _RW_STEPS + 1):
        src = f"s{t - 1}" if t > 1 else "s0"
        steps.append(
            f"""
  s{t} AS (
    SELECT {src}.*,
           min_by(e.b,
                  md5(concat(CAST({t} AS VARCHAR), '|',
                             CAST({src}.{'node' if t == 1 else f'step{t - 1}'}
                                  AS VARCHAR), '|',
                             CAST(e.b AS VARCHAR)))
                  || lpad(CAST(e.b AS VARCHAR), 20, '0')) AS step{t}
    FROM s{t - 1} {src}
    JOIN edges e ON e.a = {src}.{'node' if t == 1 else f'step{t - 1}'}
    GROUP BY ALL
  )"""
        )
    return (
        _SQL_PAIRS
        + """
  , edges AS (SELECT i AS a, j AS b FROM pairs
              UNION ALL
              SELECT j AS a, i AS b FROM pairs),
  s0 AS (SELECT DISTINCT a AS node FROM edges)
"""
        + ","
        + ",".join(steps)
        + f"""
  SELECT node, step1, step2, step3 FROM s{_RW_STEPS}
"""
    )


@register(
    "graph_random_walk", oracle=_rw_oracle(), tags=("graph", "ml", "dedup")
)
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 3-step walk from every node of the exact-
    Jaccard graph: (node, step1, step2, step3).

    Shapes: each step is one equi-join of the walk frontier against
    the symmetrized edge list on the current-position key, followed by
    a min_by groupBy on the SAME key the join shuffled on — AQE reuses
    the exchange. Three unrolled rounds (fixed depth = the
    DeepWalk window, not data-dependent — the pagerank/k-core
    discipline that keeps iterative algorithms oracle-checkable).
    Every node in the symmetrized edge list has >= 1 neighbor, so the
    frontier never shrinks and no null-coalesce is needed. At corpus
    scale the frontier is |nodes| rows x 4 ints; the edge join is the
    bounded cost, and walk fan-out is 1 (argmin), not branching."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    edges = pairs.select(
        F.col("i").alias("a"), F.col("j").alias("b")
    ).unionAll(pairs.select(F.col("j").alias("a"), F.col("i").alias("b")))
    cur = edges.select(F.col("a").alias("node")).distinct()
    carried = ["node"]
    for t in range(1, _RW_STEPS + 1):
        pos = carried[-1]
        key = F.concat(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(t)),
                    F.col(pos).cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            F.lpad(F.col("b").cast("string"), 20, "0"),
        )
        cur = (
            cur.join(edges, cur[pos] == edges["a"])
            .groupBy(*carried)
            .agg(F.min_by("b", key).alias(f"step{t}"))
        )
        carried.append(f"step{t}")
    return cur.select("node", "step1", "step2", "step3")


# --- source_python_stream ----------------------------------------------------
#
# Streaming PYTHON DataSource (Spark 4 SimpleDataSourceStreamReader) —
# the streaming twin of source_python_ds: a custom Python source that
# feeds Structured Streaming micro-batches with offset tracking, the
# seam where a real crawl/queue consumer (HTTP pagination, Kafka-less
# REST feeds) enters the engine WITHOUT a JVM connector. The source
# generates a finite deterministic table (1024 ids in 4 offset chunks)
# so the fully-drained stream is oracle-checkable as a plain SELECT.

_PYSTREAM_N = 1024
_PYSTREAM_CHUNK = 256


def _pystream_rows(lo: int, hi: int):
    return ((j, j * 7 % 97, j // _PYSTREAM_CHUNK) for j in range(lo, hi))


def make_chunk_stream_source():
    """Build the chunkstream DataSource class (module-level so the
    checkpoint-restart test can register the identical source). The
    feed length is an OPTION (n, default _PYSTREAM_N) so a restart test
    can extend the feed between runs and prove offset recovery."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _ChunkStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, n: int):
            self.n = n

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= self.n:
                return iter([]), {"i": i}
            hi = min(i + _PYSTREAM_CHUNK, self.n)
            return iter(list(_pystream_rows(i, hi))), {"i": hi}

        def readBetweenOffsets(self, start, end):
            return iter(_pystream_rows(start["i"], end["i"]))

    class ChunkStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "chunkstream"

        def schema(self) -> str:
            return "id bigint, v bigint, chunk int"

        def simpleStreamReader(self, schema):
            return _ChunkStreamReader(int(self.options.get("n", _PYSTREAM_N)))

    return ChunkStreamSource


@register(
    "source_python_stream",
    oracle=f"""
    SELECT CAST(i AS BIGINT)            AS id,
           CAST(i * 7 % 97 AS BIGINT)   AS v,
           CAST(i // {_PYSTREAM_CHUNK} AS INT) AS chunk
    FROM range(0, {_PYSTREAM_N}) t(i)
    """,
    tags=("source", "python_datasource", "streaming"),
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source drained to a memory sink.

    The reader tracks offsets as {"i": n}; each read() serves one
    256-id chunk and advances, then reports no-progress at n=1024 so
    processAllAvailable() terminates. Exactly-once comes from the
    offset contract (readBetweenOffsets replays a committed range on
    recovery — the API's recovery path). The registry runs the full
    stream to completion and returns the drained table; the oracle
    re-derives it as a range scan.

    Scale posture: partitions-per-microbatch is the simple reader's
    single-partition contract (it's the bootstrap API); the partitioned
    production form is the batch source_python_ds shape plus offsets.
    """
    import uuid

    spark.dataSource.register(make_chunk_stream_source())
    qname = f"pystream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("chunkstream")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(qname)


# --- sql_pipe_syntax ---------------------------------------------------------
#
# Spark 4 SQL pipe syntax (|>): the same logical plan as the classic
# form, written as a linear pipeline — the SQL surface Spark 4 added
# for readability of long transform chains. The key proves the parser
# surface exists and plans identically; the oracle is the classic SQL.


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000
    GROUP BY c_mktsegment
    """,
    tags=("sql", "relational"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment revenue via SQL pipe syntax. The |> chain parses to the
    SAME Catalyst plan as the classic join+aggregate (filter pushed to
    the scan, AQE free to broadcast the dimension side) — pipe syntax
    is sugar over the identical logical operators, so every plan-shape
    guarantee elsewhere in the registry carries over unchanged."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__pipe_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__pipe_customer"
    )
    return spark.sql(
        """
        FROM __pipe_orders
        |> WHERE o_totalprice > 100000
        |> JOIN __pipe_customer ON o_custkey = c_custkey
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS sum_cents
           GROUP BY c_mktsegment
        |> SELECT c_mktsegment, n_orders, sum_cents
        """
    )


# --- agg_listagg -------------------------------------------------------------


@register(
    "agg_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("agg", "functions"),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg WITHIN GROUP (Spark 4's ordered string aggregation)
    — nations per region, comma-joined in collation order. The WITHIN
    GROUP order makes the output deterministic (an unordered listagg
    is partition-order-dependent and would never hash-match); DuckDB's
    twin is string_agg(expr, sep ORDER BY expr). Broadcast-sized here;
    at scale ordered listagg is a sort-based aggregate per group —
    bounded output requires bounding the group (the agg_collect
    caveat, same family)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    return j.groupBy("r_name").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
            "nations"
        )
    )


# --- udf_cogrouped_map -------------------------------------------------------
#
# Cogrouped-map pandas UDF (groupBy().cogroup().applyInPandas) — the
# last member of the pandas-UDF API matrix (scalar/Arrow, grouped-agg,
# grouped-map, mapInPandas, UDTF all have keys). Canonical use: per-key
# alignment logic that pandas expresses in one call but SQL needs a
# window program for — here, last-click-before-purchase attribution via
# pandas.merge_asof per user. The ORACLE is the equivalent max_by
# window SQL, so the cogrouped path is held to the engine-exact answer.


@register(
    "udf_cogrouped_map",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           p.purchase_id,
           CAST(max_by(c.click_id,
                       CAST(c.cus AS HUGEINT) * 9223372036854775808
                       + c.click_id) AS BIGINT) AS click_id,
           CAST(p.pus - max(c.cus) AS BIGINT) AS gap_us
    FROM p JOIN c
      ON p.user_id = c.user_id AND c.cus <= p.pus
    GROUP BY p.user_id, p.purchase_id, p.pus
    """,
    tags=("udf", "events", "ml"),
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click-before-purchase per user via cogrouped applyInPandas
    (pandas merge_asof inside each cogroup, by='user_id').

    Shapes: both sides shuffle ONCE (the cogroup exchange) — but the
    cogroup key is the COARSE bucket pmod(user_id, 64), not user_id:
    cogrouped applyInPandas pays a fixed Python-invocation +
    Arrow-batch cost PER GROUP, so thousands of tiny per-user groups
    spend the whole budget on overhead (measured 8.2 s warm at sf0.1
    with per-user groups vs 0.6 s bucketed — 13×). merge_asof's `by=`
    argument restores exact per-user semantics inside each bucket in
    one C pass. This bucket-then-by pattern is the general fix for
    high-cardinality cogroups at any scale; bucket count scales with
    cluster cores, not users. The oracle is the max_by window
    equivalent, so the pandas path must reproduce the engine-exact
    pairing, including the equal-timestamp rule (ties take the click
    with the larger event_id — encoded in the global (cus, click_id)
    sort + merge_asof's last-in-sort-order semantics and mirrored in
    the oracle's composite max_by key, widened to HUGEINT so the pair
    packs without overflow).

    Unmatched purchases (no click at or before) are DROPPED on both
    sides (merge_asof NaN rows filtered) — the inner-join contract.
    """
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    bkt = F.pmod("user_id", F.lit(64)).alias("bkt")
    clicks = ev.filter(F.col("event_type") == "click").select(
        bkt, "user_id", F.col("event_id").alias("click_id"), us.alias("cus")
    )
    # NOTE the right side renames user_id -> puser: both cogroup sides
    # derive from the SAME events frame (a self-cogroup), and Spark's
    # analyzer dedups the conflicting attribute ids — under a pruning
    # action (count()) the right side's duplicate-named user_id column
    # is dropped from the Arrow batch entirely. Distinct names per side
    # sidestep the dedup; merge_asof's left_by/right_by pair them back.
    purch = ev.filter(F.col("event_type") == "purchase").select(
        bkt,
        F.col("user_id").alias("puser"),
        F.col("event_id").alias("purchase_id"),
        us.alias("pus"),
    )

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = clicks, right = purchases for ONE user bucket
        if right.empty or left.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_id", "click_id", "gap_us"]
            )
        lc = left.sort_values(["cus", "click_id"], kind="mergesort")
        rp = right.sort_values(["pus", "purchase_id"], kind="mergesort")
        m = pd.merge_asof(
            rp,
            lc.drop(columns=["bkt"]),
            left_on="pus",
            right_on="cus",
            left_by="puser",
            right_by="user_id",
        )
        m = m.dropna(subset=["click_id"])
        if m.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_id", "click_id", "gap_us"]
            )
        m["gap_us"] = (m["pus"] - m["cus"]).astype("int64")
        m["click_id"] = m["click_id"].astype("int64")
        m["user_id"] = m["puser"].astype("int64")
        return m[["user_id", "purchase_id", "click_id", "gap_us"]]

    return (
        clicks.groupBy("bkt")
        .cogroup(purch.groupBy("bkt"))
        .applyInPandas(
            asof,
            "user_id long, purchase_id long, click_id long, gap_us long",
        )
    )


# --- dq_score_calibration ----------------------------------------------------
#
# Calibration table for a corpus-filter score: decile-bin the quality
# score and report the observed positive rate per bin — the reliability
# diagram a pipeline reads BEFORE choosing the keep/drop threshold a
# classifier-based filter will apply at scale. Score here is the
# fixed-point stopword-density x length quality signal; "positive" is
# the lang='en' majority-class proxy (any labeled subset slots in).


@register(
    "dq_score_calibration",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               * 1000
             + CAST(n_chars % 1000 AS BIGINT) AS score
      FROM documents
    ),
    b AS (
      SELECT pos, score,
             ntile(10) OVER (ORDER BY score, doc_id) AS bin
      FROM f
    )
    SELECT bin,
           CAST(count(*) AS BIGINT)                       AS n,
           CAST(sum(pos) AS BIGINT)                       AS positives,
           CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
           CAST(min(score) AS BIGINT)                     AS score_lo,
           CAST(max(score) AS BIGINT)                     AS score_hi
    FROM b GROUP BY bin
    """,
    tags=("dq", "ml", "text", "north_star"),
)
def dq_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: decile of score -> observed positive
    rate (ppm), with bin score ranges.

    Shapes: features are scan-side; the decile assignment is ONE
    global-order ntile (the exact-quantile form — at 100 TB swap for
    approx_percentile cuts broadcast onto the scan, the documented
    fn_discretize_quantiles trade); the rollup is a 10-row aggregate.
    The (score, doc_id) composite makes the ntile order total, so bin
    boundaries are deterministic and the whole table hash-matches."""
    d = table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        (
            F.size(F.split(F.trim("text"), r"\s+")).cast("bigint") * 1000
            + (F.col("n_chars") % 1000).cast("bigint")
        ).alias("score"),
    )
    b = f.withColumn(
        "bin", F.ntile(10).over(W.orderBy("score", "doc_id"))
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("positives"),
        F.expr("CAST(sum(pos) * 1000000 DIV count(1) AS BIGINT)").alias(
            "pos_rate_ppm"
        ),
        F.min("score").cast("bigint").alias("score_lo"),
        F.max("score").cast("bigint").alias("score_hi"),
    )


# --- corpus_substr_clean -----------------------------------------------------
#
# The APPLY step of ExactSubstr dedup: cut the duplicated spans that
# text_exact_substr_spans found and emit the cleaned corpus — the
# end-to-end form of Lee et al.'s dedup (find spans -> remove spans ->
# train on what remains). Tokens inside ANY duplicated span are
# dropped; the survivors re-join in order. Docs with no spans pass
# through verbatim (token-joined, so whitespace is canonical on both
# engines).

@register(
    "corpus_substr_clean",
    oracle=f"""
    WITH spans AS (
      SELECT * FROM ({_SUBSTR_SQL}) z
    ),
    d2 AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS pos
      FROM d2
    ),
    cut AS (
      SELECT doc_id,
             unnest(generate_series(start_tok, end_tok)) AS pos
      FROM spans
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.toks[t.pos] AS tok
      FROM tok t ANTI JOIN cut c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
    )
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY pos)    AS clean_text,
           CAST(count(*) AS BIGINT)             AS n_tokens_kept
    FROM kept
    GROUP BY doc_id
    """,
    tags=("corpus", "text", "dedup", "north_star"),
)
def corpus_substr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after ExactSubstr span removal: (doc_id,
    clean_text, n_tokens_kept). Docs whose every token sits in a
    duplicated span disappear (nothing kept) — the full-duplicate
    case degenerates to exact dedup, as the paper notes.

    Shapes (r13 rework): spans come from the text_exact_substr_spans
    program (two natural-key exchanges); spans aggregate to ONE
    doc-grain row of (start, end) structs — span-scale, bounded by
    duplicated-span count, NOT corpus tokens — and left-join onto the
    doc-grain corpus; the cut itself is a per-row higher-order filter
    (token index ∉ any span), so the corpus is never exploded to token
    grain. The previous shape posexploded every token (corpus × tokens
    rows), anti-joined on (doc_id, pos) and re-grouped with
    collect_list + array_sort — TWO token-grain shuffles of the whole
    corpus that this form does not pay at any scale (measured at
    sf0.1: 2.2 → 0.7 s as the funnel's stage 1; plan diff in
    plans/r13/corpus_substr_clean_*.txt). Join strategy is left to
    AQE: the span frame broadcasts when small; at 100 TB it is a
    doc-keyed shuffle of span-scale rows vs the old token-grain
    corpus shuffle. Per-row cut cost is tokens × spans-of-doc
    (spans are few maximal ranges), vs the old per-token join rows.
    Value-identical: same kept tokens in document order, same
    single-space rejoin, docs cut to nothing still vanish (size > 0
    filter replaces the groupBy-over-kept-rows semantics)."""
    spans = text_exact_substr_spans(spark, sf_dir).select(
        "doc_id", "start_tok", "end_tok"
    )
    cuts = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__cuts")
    )
    docs = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    j = docs.join(cuts, "doc_id", "left")
    no_cuts = F.coalesce(
        F.col("__cuts"),
        F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            no_cuts,
            lambda c: ((i + 1) >= c["start_tok"]) & ((i + 1) <= c["end_tok"]),
        ),
    )
    return (
        # two-step Project: `kept` is a non-cheap higher-order filter
        # consumed twice below; CollapseProject leaves non-cheap
        # multi-referenced aliases in their own Project (SPARK-36718),
        # so the cut runs once per row, not once per consumer.
        j.select("doc_id", kept.alias("__kept"))
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("clean_text"),
            F.size("__kept").cast("bigint").alias("n_tokens_kept"),
        )
        .filter(F.col("n_tokens_kept") > 0)
    )


# --- scan_parquet_nested -----------------------------------------------------
#
# Nested-struct parquet: schema pruning + predicate pushdown must reach
# INSIDE the struct. A staged parquet holds orders re-shaped as
# (o_orderkey, info struct<priority, clerk_bucket, cents>); the key
# filters on a nested leaf and projects two leaves — the physical scan
# must read ONLY those leaves (ReadSchema shows the pruned struct) and
# push the nested comparison down. The oracle re-derives from flat
# orders, so staging adds no semantics.

@staged("nested")
def _stage_nested_parquet(spark: SparkSession, sf_dir: str) -> str:
    import os

    out = os.path.join(session_tmpdir("nested_stage_"), "orders_nested.parquet")
    o = table(spark, sf_dir, "orders")
    o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            (F.col("o_custkey") % 16).cast("int").alias("clerk_bucket"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        ).alias("info"),
    ).write.mode("overwrite").parquet(out)
    return out


@register(
    "scan_parquet_nested",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority                                  AS priority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)  AS cents
    FROM orders
    WHERE o_custkey % 16 = 3
    """,
    tags=("scan", "source"),
)
def scan_parquet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on a nested struct leaf + project two other leaves over
    staged nested parquet.

    Plan contract (pinned in test_plans): ReadSchema carries only the
    pruned struct (info.priority, info.clerk_bucket, info.cents — and
    after Catalyst's nested-column pruning the untouched leaves never
    leave the scan), and the clerk_bucket comparison appears in
    PushedFilters as a nested-field predicate. At 100 TB nested
    pruning is the difference between reading a 3-leaf slice and
    deserializing the whole struct column."""
    path = _stage_nested_parquet(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.filter(F.col("info.clerk_bucket") == 3).select(
        "o_orderkey",
        F.col("info.priority").alias("priority"),
        F.col("info.cents").alias("cents"),
    )


# --- udf_map_in_arrow --------------------------------------------------------
#
# mapInArrow: the Arrow-native map surface — batches arrive as
# pyarrow.RecordBatch and never convert to pandas, the lowest-overhead
# Python escape hatch (no index materialization, no object boxing).
# Canonical use: numeric batch kernels over vector columns. Here: L2
# norm (micro-quantized) per embedding via numpy over the Arrow
# buffers; oracle = the list_sum SQL over the same squares.


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT vec_id,
           CAST(floor(
             sqrt(CAST(list_sum(list_transform(embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS norm_micro
    FROM embeddings
    """,
    tags=("udf", "similarity", "ml"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm through mapInArrow (RecordBatch in,
    RecordBatch out — zero pandas).

    Shapes: embarrassingly parallel, ZERO exchanges — the Arrow batch
    iterator runs inside the scan stage. numpy reads the list column's
    flattened values buffer and reduces per offset window; sqrt is
    IEEE-correctly-rounded (the one libm fn that is, NOTES round-5) so
    the 1e-6 quantization is engine-exact. At 100 TB this is the
    pattern for custom numeric kernels: per-batch vectorized compute,
    ints out, no shuffle."""
    import pyarrow as pa
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            col = batch.column("embedding")
            # flatten list<float> -> (values, offsets); one vectorized
            # square + per-window reduce, no per-row Python
            lst = col.combine_chunks() if hasattr(col, "combine_chunks") else col
            offsets = np.asarray(lst.offsets)
            vals = np.asarray(lst.values, dtype=np.float64)
            sq = np.add.reduceat(vals * vals, offsets[:-1])
            sq = np.where(offsets[1:] > offsets[:-1], sq, 0.0)
            norm = np.floor(np.sqrt(sq) * 1e6 + 0.5).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(norm, type=pa.int64())],
                names=["vec_id", "norm_micro"],
            )

    return emb.mapInArrow(norms, "vec_id long, norm_micro long")


# --- reshape_transpose -------------------------------------------------------
#
# DataFrame.transpose (Spark 4.0): rows become columns keyed by the
# first column's values. Transposing is driver-materializing by nature
# (column COUNT = row count of the input), so the contract is the same
# as agg_pivot's: only ever transpose a bounded aggregate. Here the
# 3-row per-returnflag totals frame flips into one row per measure.


@register(
    "reshape_transpose",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(count(*) AS BIGINT)                        AS n_rows
      FROM lineitem GROUP BY 1
    )
    SELECT 'qty' AS measure,
           CAST(max(CASE WHEN l_returnflag = 'A' THEN qty END) AS BIGINT) AS A,
           CAST(max(CASE WHEN l_returnflag = 'N' THEN qty END) AS BIGINT) AS N,
           CAST(max(CASE WHEN l_returnflag = 'R' THEN qty END) AS BIGINT) AS R
    FROM t
    UNION ALL
    SELECT 'n_rows',
           CAST(max(CASE WHEN l_returnflag = 'A' THEN n_rows END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'N' THEN n_rows END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'R' THEN n_rows END) AS BIGINT)
    FROM t
    """,
    tags=("reshape", "agg"),
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag totals transposed: measures as rows, flags as
    columns (the report orientation flip). df.transpose() derives the
    new column names from the index column's VALUES — bounded here by
    the 3-value flag domain; the oracle mirrors them as literal
    conditional aggregates. Transpose of anything unbounded is the
    same anti-pattern as unbounded pivot (documented, refused by
    design at the aggregate grain)."""
    li = table(spark, sf_dir, "lineitem")
    t = (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select("l_returnflag", "qty", "n_rows")
    )
    out = t.transpose()
    # transpose names the key column 'key'; align to the oracle
    return out.select(
        F.col("key").alias("measure"),
        F.col("A").cast("bigint").alias("A"),
        F.col("N").cast("bigint").alias("N"),
        F.col("R").cast("bigint").alias("R"),
    )


# --- agg_delta_method_ci -----------------------------------------------------
#
# Delta-method CI for a RATIO metric (the A/B-testing workhorse:
# clicks-per-view, revenue-per-session — user-level ratios of sums,
# where naive per-row variance is wrong because users, not rows, are
# the randomization unit). Per user: x = micro-value of click events,
# y = view-event count. R = mean(x)/mean(y); Var(R) ~=
# (var_x + R^2 var_y - 2 R cov_xy) / (n * mean(y)^2). Completes the
# experimentation kit beside CUPED (variance reduction), t-test/
# Mann-Whitney (mean shifts), DiD (causal), power, SRM.

_DELTA_SQL = """
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events
      GROUP BY 1, 2
      HAVING sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
    ),
    s AS (
      SELECT variant,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sxy
      FROM u GROUP BY 1
    )
    SELECT variant,
           CAST(n AS BIGINT) AS n_users,
           floor(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS ratio_q,
           floor(sqrt(
             ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              - 2 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE)
             / ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
           ) * 1e6 + 0.5) / 1e6 AS se_q
    FROM s
"""


@register(
    "agg_delta_method_ci", oracle=_DELTA_SQL, tags=("agg", "ml", "stats")
)
def agg_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error of the per-variant clicks-value /
    views ratio (user-level randomization unit).

    Shapes: one user-grain conditional aggregate (single exchange — the
    CUPED discipline), then a 2-row variant rollup of DECIMAL(38,0)
    sufficient statistics; ratio and SE finish as one mirrored double
    expression over exact integers, quantized 1e-6. The sample
    variance/covariance terms use the n·Σ−ΣΣ form so nothing subtracts
    means rowwise."""
    ev = table(spark, sf_dir, "events", parallel=True)
    u = (
        ev.groupBy(
            "user_id", (F.col("user_id") % 2).cast("bigint").alias("variant")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.floor(F.col("value") * 1000000 + 0.5).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
        .filter(F.col("y") > 0)
    )
    dec = "DECIMAL(38,0)"
    s = u.groupBy("variant").agg(
        F.expr(f"CAST(count(1) AS {dec})").alias("n"),
        F.expr(f"CAST(sum(CAST(x AS {dec})) AS {dec})").alias("sx"),
        F.expr(f"CAST(sum(CAST(y AS {dec})) AS {dec})").alias("sy"),
        F.expr(
            f"CAST(sum(CAST(x AS {dec}) * CAST(x AS {dec})) AS {dec})"
        ).alias("sxx"),
        F.expr(
            f"CAST(sum(CAST(y AS {dec}) * CAST(y AS {dec})) AS {dec})"
        ).alias("syy"),
        F.expr(
            f"CAST(sum(CAST(x AS {dec}) * CAST(y AS {dec})) AS {dec})"
        ).alias("sxy"),
    )
    nd = "CAST(n AS DOUBLE)"
    sxd, syd = "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)"
    r = f"({sxd} / {syd})"
    varx = f"({nd} * CAST(sxx AS DOUBLE) - {sxd} * {sxd})"
    vary = f"({nd} * CAST(syy AS DOUBLE) - {syd} * {syd})"
    covxy = f"({nd} * CAST(sxy AS DOUBLE) - {sxd} * {syd})"
    return s.select(
        "variant",
        F.expr("CAST(n AS BIGINT)").alias("n_users"),
        F.expr(f"floor({r} * 1e6 + 0.5) / 1e6").alias("ratio_q"),
        F.expr(
            f"floor(sqrt(({varx} + {r} * {r} * {vary} - 2 * {r} * {covxy})"
            f" / ({nd} * {nd} - {nd}) / {nd}"
            f" / (({syd} / {nd}) * ({syd} / {nd}))) * 1e6 + 0.5) / 1e6"
        ).alias("se_q"),
    )


# --- fn_isoweek --------------------------------------------------------------
#
# ISO-8601 calendar surfaces: iso year, iso week, iso day-of-week.
# These are the fields that SILENTLY diverge across engines (Spark's
# dayofweek is Sunday=1; DuckDB's dayofweek is Sunday=0; both agree
# only on the ISO definitions) — the key pins the portable mapping:
# Spark weekofyear IS the ISO week; isodow derives from dayofweek by
# ((dow + 5) % 7) + 1; iso year must come from the Jan-4 rule, NOT
# year(), which is wrong in the year-boundary weeks.


@register(
    "fn_isoweek",
    oracle="""
    SELECT o_orderkey,
           CAST(isoyear(o_orderdate) AS INT)  AS iso_year,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(isodow(o_orderdate) AS INT)   AS iso_dow
    FROM orders WHERE o_orderkey < 2000
    """,
    tags=("fn", "date"),
)
def fn_isoweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO year / week / day-of-week per order date.

    Spark has no isoyear(); derive it by the ISO rule (the year of the
    Thursday of the date's week): add (4 - isodow) days and take
    year() — exact, and scan-side codegen. iso_dow = ((dayofweek(d) +
    5) % 7) + 1 maps Spark's Sunday=1 convention to ISO Monday=1.
    DuckDB mirrors with its native isoyear/isodow, so any engine
    divergence in the week fields hash-fails loudly."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    isodow = ((F.dayofweek("o_orderdate") + 5) % 7) + 1
    return o.select(
        "o_orderkey",
        F.year(F.date_add(F.col("o_orderdate").cast("date"), 4 - isodow))
        .cast("int")
        .alias("iso_year"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        isodow.cast("int").alias("iso_dow"),
    )


# --- sink_parquet_zstd -------------------------------------------------------
#
# Parquet compression-codec surface: zstd (the 100 TB-era default —
# ~30% smaller than snappy at similar scan speed) write + read-back.
# Content equality is the contract; codec choice must never change
# values. Completes the codec matrix beside gzip CSV (scan_csv_gzip)
# and snappy-default parquet (every other sink).

@staged("zstd")
def _stage_zstd_parquet(spark: SparkSession, sf_dir: str) -> str:
    import os

    path = os.path.join(session_tmpdir("zstd_stage_"), "docs.parquet")
    table(spark, sf_dir, "documents").write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(path)
    return path


@register(
    "sink_parquet_zstd",
    oracle="""
    SELECT doc_id, lang, source, n_chars,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("sink", "scan"),
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents round-tripped through zstd-compressed parquet; output
    proves bit-identical content (md5 over text) after the
    write-read cycle. Distributed write, one staged copy per
    (session, sf)."""
    path = _stage_zstd_parquet(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("content_md5"),
    )


# --- sql_not_in_null ---------------------------------------------------------
#
# The NOT IN + NULL three-valued-logic trap, pinned as a contract: when
# the subquery set contains even one NULL, `x NOT IN (set)` is never
# TRUE (x <> NULL is UNKNOWN), so the filter returns ZERO rows — while
# the NOT EXISTS rewrite returns the intuitive complement. Both engines
# implement the ANSI semantics, so the side-by-side counts hash-match;
# the key exists so the engine's behavior (and the rewrite a pipeline
# should use) is regression-pinned, and because Spark plans the NOT IN
# form as a null-aware anti join (NAAJ) — a genuinely different
# physical operator than the NOT EXISTS anti join.


@register(
    "sql_not_in_null",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END AS k
      FROM customer
    )
    SELECT
      CAST((SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT k FROM s)) AS BIGINT)
        AS n_not_in,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = o.o_custkey))
           AS BIGINT) AS n_not_exists,
      CAST((SELECT count(*) FROM s WHERE k IS NULL) > 0 AS BOOLEAN)
        AS set_has_null
    """,
    tags=("sql", "relational"),
)
def sql_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS over a NULL-bearing subquery set, counted
    side by side (n_not_in = 0 whenever set_has_null — the ANSI trap;
    n_not_exists = the intuitive complement).

    Plan note: Spark executes the NOT IN form as a null-aware anti
    join (BroadcastNestedLoopJoin with the NAAJ condition) — at scale
    that's a broadcast of the whole set and per-row null logic, one
    more reason production filters should be written NOT EXISTS (plain
    anti join, hash-partitionable). The contract here IS the lesson."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__nn_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("__nn_customer")
    return spark.sql(
        """
        WITH s AS (
          SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END AS k
          FROM __nn_customer
        )
        SELECT
          CAST((SELECT count(*) FROM __nn_orders
                WHERE o_custkey NOT IN (SELECT k FROM s)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT count(*) FROM __nn_orders o
                WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = o.o_custkey))
               AS BIGINT) AS n_not_exists,
          CAST((SELECT count(*) FROM s WHERE k IS NULL) > 0 AS BOOLEAN)
            AS set_has_null
        """
    )


# --- scan_jsonl_corrupt ------------------------------------------------------
#
# PERMISSIVE JSONL with corrupt-record capture: web-crawl dumps always
# carry a fraction of truncated/garbled lines, and the ingest contract
# is "parse what parses, QUARANTINE the rest with the raw line" — not
# FAILFAST (kills the job at 100 TB) and not DROPMALFORMED (silently
# loses data). A staged JSONL derives corruption deterministically
# (doc_id % 7 == 3 lines are truncated mid-record), so the good/bad
# split is oracle-checkable from the clean table.

@staged("jsonl")
def _stage_corrupt_jsonl(spark: SparkSession, sf_dir: str) -> str:
    import os

    out = os.path.join(session_tmpdir("jsonl_stage_"), "feed.jsonl")
    d = table(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 7 == 3,
            # truncated mid-record: unparseable, lands in _corrupt
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.to_json(F.struct("doc_id", "lang", "n_chars"))
        )
        .alias("value")
    )
    d.write.mode("overwrite").text(out)
    return out


@register(
    "scan_jsonl_corrupt",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)                         AS n_good,
           CAST(sum(n_chars) AS BIGINT)                     AS sum_chars,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 7 = 3)
                AS BIGINT)                                  AS n_corrupt
    FROM documents
    WHERE doc_id % 7 <> 3
    GROUP BY lang
    """,
    tags=("scan", "source", "dq"),
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang good-record rollup + corpus-wide quarantine count from
    a PERMISSIVE JSONL read with columnNameOfCorruptRecord.

    Contract pinned: corrupt lines parse to NULL fields + the raw line
    in _corrupt (they are COUNTED, never dropped); good lines parse
    fully. Spark caveat handled: counting corrupt records requires
    referencing the corrupt column AFTER a barrier (the JSON reader
    refuses queries that select ONLY the corrupt column from an
    unmaterialized scan — internal-corrupt-record restriction), so the
    rollup counts via the parsed-key nullity, which is equivalent
    under this staging rule. One scan, one grid-sized exchange."""
    path = _stage_corrupt_jsonl(spark, sf_dir)
    df = spark.read.schema(
        "doc_id long, lang string, n_chars long, _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(path)
    # a corrupt line has lang NULL + _corrupt set; good lines the reverse
    good = df.filter(F.col("lang").isNotNull())
    bad = df.filter(F.col("lang").isNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corrupt")
    )
    return (
        good.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_good"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(bad))  # 1-row quarantine total, no driver hop
    )


# --- graph_cc_incremental ----------------------------------------------------
#
# Incremental connected-components maintenance: the daily-crawl shape
# where a LABELED base graph receives a delta edge batch and the
# labeling must be repaired WITHOUT re-traversing the base graph. The
# star-contraction identity makes it exact: the base labeling is
# itself an edge set (node -> component hub), so CC over
# (star edges UNION delta edges) equals CC over (base UNION delta) —
# but the star graph has diameter 2, so convergence costs 1-2 fused
# rounds instead of the full component diameter. Oracle = full
# recompute over all edges (the cdc_apply "incremental must equal
# batch" pattern).


def _cc_inc_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_SHINGLES, JACCARD_THRESHOLD

    return (
        "WITH RECURSIVE "
        + _SQL_SHINGLES.strip().removeprefix("WITH")
        + f"""
  , ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p AS (
    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT i, j FROM p
    JOIN sz s1 ON p.i = s1.doc_id JOIN sz s2 ON p.j = s2.doc_id
    WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
  ),
  edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
  reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
  )
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
"""
    )


@register(
    "graph_cc_incremental",
    oracle=_cc_inc_oracle(),
    tags=("graph", "dedup", "incremental"),
)
def graph_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair a CC labeling after a delta edge batch; output
    (node, component) for every edge-touched node, equal to the full
    recompute.

    The near-dup edge set splits deterministically (hash(i,j) % 5 == 0
    is the "new today" delta); the base 80% is labeled with the
    standard operator, then the repair pass runs CC over the
    star-contracted graph (labels-as-edges UNION delta) — the base
    graph's internal structure is never re-walked, which is the whole
    economics of incremental maintenance: repair cost scales with
    |delta| + |components touched|, not |base edges|. At crawl scale
    the base labeling is a persisted table (dedup_minhash_persist's
    posture) and this plan is the nightly job."""
    from etl_cnpjs_spark.operators.graph import connected_components
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    is_delta = F.pmod(F.xxhash64(F.col("i"), F.col("j")), F.lit(5)) == 0
    base = pairs.filter(~is_delta)
    delta = pairs.filter(is_delta)

    base_nodes = (
        base.select(F.col("i").alias("node"))
        .unionAll(base.select(F.col("j").alias("node")))
        .distinct()
    )
    labels = connected_components(
        base_nodes,
        base.select(F.col("i").alias("src"), F.col("j").alias("dst")),
    )
    # star contraction: the labeling IS an edge set (node -> hub)
    star = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    all_nodes = (
        pairs.select(F.col("i").alias("node"))
        .unionAll(pairs.select(F.col("j").alias("node")))
        .distinct()
    )
    repaired = connected_components(
        all_nodes,
        star.unionAll(
            delta.select(F.col("i").alias("src"), F.col("j").alias("dst"))
        ),
        probe_stride=1,  # star graph: diameter 2, first probe usually ends it
    )
    return repaired.select("node", "component")


# --- dedup_minhash_estimate --------------------------------------------------
#
# MinHash as an ESTIMATOR, made engine-exact: per near-dup pair, the
# 16-permutation signature agreement (each permutation = min over
# shingles of an md5-keyed hash, the conv(hex,16,10) idiom DuckDB
# computes identically) BESIDE the exact Jaccard — the report that
# justifies a sketch operating point empirically instead of by the
# (1-j^r)^b formula alone. The detection keys (dedup_minhash,
# dedup_incremental) prove banding finds the pairs; this key proves
# the SIGNATURE VALUES themselves are deterministic and portable.

_MH_PERMS = 16


def _mh_est_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_SHINGLES, JACCARD_THRESHOLD

    mins = ",\n             ".join(
        f"min(('0x' || substr(md5('{p}|' || s), 1, 15))::BIGINT) AS mh{p}"
        for p in range(_MH_PERMS)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{p} = b.mh{p} THEN 1 ELSE 0 END"
        for p in range(_MH_PERMS)
    )
    return (
        _SQL_SHINGLES
        + f"""
  , ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p0 AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
         FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
  pairs AS (SELECT i, j,
                   CAST(inter * 1000000 // (s1.n + s2.n - inter) AS BIGINT)
                     AS exact_ppm
            FROM p0 JOIN sz s1 ON p0.i = s1.doc_id
                    JOIN sz s2 ON p0.j = s2.doc_id
            WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}),
  mh AS (SELECT doc_id,
             {mins}
         FROM ex GROUP BY doc_id)
  SELECT p.i, p.j, p.exact_ppm,
         CAST({agree} AS BIGINT) AS agree,
         CAST(({agree}) * 1000000 // {_MH_PERMS} AS BIGINT) AS est_ppm
  FROM pairs p JOIN mh a ON p.i = a.doc_id JOIN mh b ON p.j = b.doc_id
"""
    )


@register(
    "dedup_minhash_estimate",
    oracle=_mh_est_oracle(),
    tags=("dedup", "north_star", "similarity"),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup pair: exact Jaccard (ppm) beside the 16-permutation
    MinHash agreement estimate (ppm).

    Shapes: ONE posting explode feeds a 16-min groupBy (signatures in
    a single doc-keyed pass — adding permutations widens the aggregate,
    never adds exchanges); the pair frame reuses the memoized exact
    pairs; two broadcast-sized joins attach signatures. The md5→
    conv(hex,16,10) hash is the r3 idiom both engines compute bit-
    identically, so E[agreement] = J is not just a theorem here — the
    estimator's exact output is hash-pinned. At corpus scale the same
    signature table is what dedup_minhash_persist buckets and stores."""
    from etl_cnpjs_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        _doc_shingles,
        _exact_pairs,
    )

    sh = _doc_shingles(spark, sf_dir)
    ex = sh.filter(F.size("sh") > 0).select(
        "doc_id", F.explode("sh").alias("s")
    )
    mins = [
        F.min(
            F.expr(
                f"cast(conv(substring(md5(concat('{p}|', s)), 1, 15), 16, 10)"
                " as bigint)"
            )
        ).alias(f"mh{p}")
        for p in range(_MH_PERMS)
    ]
    mh = ex.groupBy("doc_id").agg(*mins)

    pairs = _exact_pairs(spark, sf_dir)
    sz = sh.select("doc_id", F.size("sh").alias("n"))
    shd = sh.select("doc_id", "sh")
    p = (
        pairs.select("i", "j")
        .join(shd.select(F.col("doc_id").alias("i"), F.col("sh").alias("sha")), "i")
        .join(shd.select(F.col("doc_id").alias("j"), F.col("sh").alias("shb")), "j")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    p = p.select(
        "i",
        "j",
        F.expr(
            "CAST(size(array_intersect(sha, shb)) * 1000000 DIV "
            "(size(sha) + size(shb) - size(array_intersect(sha, shb))) "
            "AS BIGINT)"
        ).alias("exact_ppm"),
    )
    a = mh.select(
        F.col("doc_id").alias("i"), *[F.col(f"mh{q}").alias(f"a{q}") for q in range(_MH_PERMS)]
    )
    b = mh.select(
        F.col("doc_id").alias("j"), *[F.col(f"mh{q}").alias(f"b{q}") for q in range(_MH_PERMS)]
    )
    agree_expr = sum(
        F.when(F.col(f"a{q}") == F.col(f"b{q}"), 1).otherwise(0)
        for q in range(_MH_PERMS)
    )
    return (
        p.join(a, "i")
        .join(b, "j")
        .select(
            "i",
            "j",
            "exact_ppm",
            agree_expr.cast("bigint").alias("agree"),
            (agree_expr * 1000000 / _MH_PERMS)
            .cast("bigint")
            .alias("est_ppm"),
        )
    )
