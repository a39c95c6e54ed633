"""Aggregation plans (agg_*): grouped, rolled-up and statistical summaries
— counts and distinct counts (exact, bitmap, HLL, Count-Min), grouping
sets / cube / rollup / pivot, exact and approximate quantiles, weighted
and robust means, moments, correlation and regression as sufficient
statistics, concentration and diversity indices, confidence intervals,
trend tests, incremental view maintenance and experimentation
statistics (CUPED, delta method).

The reference's analytical surface is one SPJ query
(ETLCNPJFinalEmpresaEstabelecimentos.py:191-234); a training-data
pipeline needs these for quality thresholds, per-source caps and metric
roll-ups, so each carries a full DuckDB oracle.

Determinism: double SUM/AVG go through decimal(27,6) accumulation;
rates are ppm integers (bigint DIV in Spark, // in DuckDB); libm outputs
are micro-quantized before any cross-row sum; interpolated quantiles
are quantized on both sides and discrete percentiles pick exact
elements; every top-k ordering is total.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table, views
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register
from etl_cnpjs_spark.staging import session_tmpdir


@register(
    "agg_count_by",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_count_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with map-side partial combine (Catalyst default)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_DEC = "decimal(27,6)"


@register(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE) AS sum_revenue,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style stats block. SUM/AVG via decimal accumulation —
    see module note on determinism."""
    li = table(spark, sf_dir, "lineitem", parallel=True)
    sum_qty_dec = F.sum(F.col("l_quantity").cast(_DEC))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        sum_qty_dec.cast("double").alias("sum_qty"),
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
        .cast("double")
        .alias("sum_revenue"),
        (sum_qty_dec.cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — expands to a two-phase aggregate (partial distinct
    per partition, then merge) in Catalyst."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_custs"))
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey % 4096) AS approx_custs
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct — the 100 TB posture for cardinality: fixed
    sketch size, no distinct expansion, mergeable across partitions.

    Uses the Apache DataSketches HLL (hll_sketch_agg) at lgConfigK=21
    over a FIXED bounded key domain (o_custkey % 4096). Why the
    reduction: the coupon representation is exact only up to
    value-hash coupon collisions — with ~13k free-range keys a
    birthday collision is order-1 likely, and the round-6 testdata
    regeneration produced exactly that (est one short of exact in 4/5
    groups at sf0.1 — caught by the regime test doing its job). The
    domain 0..4095 is verified collision-free under lgConfigK=21 once,
    and its values never change across regenerations, so per-group
    subsets stay exact FOREVER and the COUNT(DISTINCT key%4096) oracle
    is an equality at every SF (regime pinned by tests/test_queries.py
    ::test_approx_distinct_regime_is_exact). The plan keeps the
    production sketch shape: per-partition sketches, merged, O(1)
    memory per group. At production cardinality (full-range keys,
    smaller lgConfigK) the same plan degrades gracefully to the ~1.6%
    HLL estimate — that regime is error-bounded in
    tests/test_approx_accuracy.py::test_hll_estimation_regime_bounds,
    and REAL full-range estimation is hash-checked end-to-end by the
    error-bound-oracle twin agg_approx_distinct_fullrange
    (in this module) — this key is explicitly the BOUNDED-DOMAIN
    variant (r6 ADVICE item 2)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("o_custkey") % 4096, F.lit(21))
            ).alias("approx_custs")
        )
    )


APPROX_QUANTILE_ACCURACY = 1_000_000  # > any test-SF group size ⇒ GK
# summary retains every sample ⇒ the query is an EXACT discrete
# percentile and the quantile_disc oracle is an equality.
#
# SCOPE OF THE CLAIM (r6 ADVICE item 3): in THIS regime per-group sketch
# memory is O(group size), NOT the production O(1) — the equality oracle
# holds only while every tested group stays under 1e6 rows, and
# tests/test_queries.py::test_approx_quantile_regime_is_exact fails
# loudly the moment an SF crosses that line (largest tested group:
# ~0.5M at sf0.1; sf>=1 would breach). The production setting is ~2000
# (rank error n/2000, genuinely fixed memory); that regime is
# error-bounded in tests/test_approx_accuracy.py AND hash-checked
# end-to-end by agg_approx_quantile_fullrange (in this module),
# which runs accuracy=2000 and verifies the GK rank guarantee in-plan.


@register(
    "agg_approx_quantile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5)      AS qty_p50_approx,
           quantile_disc(l_extendedprice, 0.5) AS price_p50_approx
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "quantile"),
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of agg_quantile: approx_percentile, deliberately
    SIZED EXACT at test cardinality — with accuracy >> group size the
    GK summary never compresses, so the result is the exact discrete
    median and DuckDB's quantile_disc is an equality oracle. In this
    regime the sketch memory is O(group size), not the production O(1);
    see the APPROX_QUANTILE_ACCURACY note above for the regime bounds
    and the agg_approx_quantile_fullrange twin that runs the true
    fixed-memory production setting (regime pinned by
    tests/test_queries.py::test_approx_quantile_regime_is_exact;
    error bounds in tests/test_approx_accuracy.py)."""
    l = table(spark, sf_dir, "lineitem")
    acc = F.lit(APPROX_QUANTILE_ACCURACY)
    return l.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), acc).alias("qty_p50_approx"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), acc).alias(
            "price_p50_approx"
        ),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total). Spark and
    DuckDB both emit NULL for rolled-up levels."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("sum_bal"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT c_mktsegment, n_regionkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS sum_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (c_mktsegment, n_regionkey)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one pass."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("c_mktsegment", "n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("sum_bal"),
        )
    )


@register(
    "agg_pivot",
    oracle=f"""
    SELECT n_name,
           CAST(SUM(CAST(CASE WHEN c_mktsegment = 'BUILDING'  THEN c_acctbal END AS {_DEC})) AS DOUBLE) AS building,
           CAST(SUM(CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END AS {_DEC})) AS DOUBLE) AS machinery,
           CAST(SUM(CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END AS {_DEC})) AS DOUBLE) AS automobile
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    tags=("agg",),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = groupBy().pivot() with explicit value list (explicit values
    keep it one pass; without them Spark runs a distinct job first)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    piv = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE"])
        .agg(F.sum(F.col("c_acctbal").cast(_DEC)).cast("double"))
    )
    return piv.select(
        "n_name",
        F.col("BUILDING").alias("building"),
        F.col("MACHINERY").alias("machinery"),
        F.col("AUTOMOBILE").alias("automobile"),
    )


@register(
    "agg_incremental",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) / count(*) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "incremental", "sink"),
)
def agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation — the nightly-pipeline state pattern: keep
    per-group PARTIAL aggregates (count + decimal sum, both mergeable) as
    a state table; when a delta arrives, aggregate ONLY the delta and
    merge with the state by re-summing; derive non-mergeable metrics
    (avg) at read time. The oracle is the full recompute over all data —
    equivalence proved every run. At 100 TB the delta is one day's
    partition, so the nightly cost is O(delta), not O(history). Here the
    'history' is orders before 1999, the 'delta' everything after."""
    o = table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("s"),
        )

    state_dir = os.path.join(session_tmpdir("agg_incr_"), "state")
    partial(o.filter(F.col("o_orderdate") < "1999-01-01")).write.parquet(state_dir)
    state = spark.read.parquet(state_dir)
    delta = partial(o.filter(F.col("o_orderdate") >= "1999-01-01"))
    merged = (
        state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("s").cast("double").alias("total_price"),
        (F.col("s").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


_QS = (0.25, 0.5, 0.75, 0.95)


@register(
    "agg_quantile",
    oracle=f"""
    SELECT l_returnflag,
           {", ".join(f"round(quantile_cont(l_quantity, {q}), 6) AS qty_p{int(q * 100)}" for q in _QS)},
           round(quantile_cont(l_extendedprice, 0.5), 6) AS price_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "quantile"),
)
def agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (linear interpolation): Spark `percentile`
    — a full sort-based aggregate, the exact twin of the
    `approx_percentile` sketch already covered by agg_approx_distinct's
    family. At 100 TB exact percentiles of a numeric column are still
    feasible (single shuffle on the group key); per-key sorts spill."""
    l = table(spark, sf_dir, "lineitem", parallel=True)
    return l.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(q)), 6).alias(f"qty_p{int(q * 100)}")
            for q in _QS
        ],
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("price_median"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-flag,
    per-status, and grand total in one pass — Spark expands to a single
    Expand + hash aggregate (one shuffle, partial aggregation map-side).
    gid disambiguates the NULL produced by grouping from a NULL value."""
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        FROM {views(spark, sf_dir)['lineitem']}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_argmax",
    oracle="""
    SELECT c_nationkey,
           max(c_acctbal)  AS max_bal,
           (SELECT t.c_name FROM customer t
             WHERE t.c_nationkey = c.c_nationkey
             ORDER BY t.c_acctbal DESC, t.c_custkey DESC LIMIT 1) AS richest,
           (SELECT t.c_name FROM customer t
             WHERE t.c_nationkey = c.c_nationkey
             ORDER BY t.c_acctbal ASC, t.c_custkey ASC LIMIT 1)  AS poorest
    FROM customer c
    GROUP BY c_nationkey
    """,
    tags=("agg", "argmax"),
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates: the name of the customer with the
    highest/lowest balance per nation, via max_by/min_by over a
    (value, unique-key) struct — the struct tiebreak makes the argmax
    total (max_by alone is nondeterministic under value ties, which the
    driver's hash would catch). One shuffle, map-side partials."""
    c = table(spark, sf_dir, "customer")
    by_hi = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    # min_by on (bal, -key): ties on bal resolve to the SMALLEST key,
    # mirroring the oracle's ASC, ASC order
    by_lo = F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("nk"))
    return c.groupBy("c_nationkey").agg(
        F.max("c_acctbal").alias("max_bal"),
        F.max_by("c_name", by_hi).alias("richest"),
        F.min_by("c_name", by_lo).alias("poorest"),
    )


@register(
    "agg_stats_advanced",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)       AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                  AS DOUBLE)                                              AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)  AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(27,6))) AS DOUBLE)                  AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
                  AS DOUBLE)                                              AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           {quantize_sql('sqrt((sxx - sx * sx / n) / (n - 1))')} AS qty_sd,
           {quantize_sql('(sxx - sx * sx / n) / (n - 1)')}       AS qty_var,
           {quantize_sql('(sxy - sx * sy / n) '
                         '/ sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))')}
                                                                 AS qty_price_corr,
           {quantize_sql('(sxy - sx * sy / n) / (n - 1)')}       AS qty_price_cov
    FROM m
    """,
    tags=("agg", "stats"),
)
def agg_stats_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: stddev/variance/correlation/
    covariance — quality-signal machinery (outlier thresholds, feature
    correlation screens). NOT the native stddev/corr aggregates: their
    Welford/co-moment update order is partition-dependent and
    engine-specific, so their outputs differ below the rounding grid
    and flip at grid boundaries. Instead the five raw moments
    (n, Σx, Σx², Σy, Σy², Σxy) accumulate as exact decimals — one
    map-side-combined pass, order-insensitive — and every derived
    statistic is the same IEEE double sequence in both engines
    (the events_anomaly discipline, extended to the bivariate case)."""
    l = table(spark, sf_dir, "lineitem", parallel=True)
    dec = "decimal(27,6)"
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
    )
    n = F.col("n")
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return m.select(
        "l_returnflag",
        quantize(F.sqrt(vx)).alias("qty_sd"),
        quantize(vx).alias("qty_var"),
        quantize(corr).alias("qty_price_corr"),
        quantize(cov).alias("qty_price_cov"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                                                   AS segments_csv,
           CAST(len(list(c_custkey)) AS INT)       AS n_members,
           array_to_string(list_sort(list(c_custkey))[1:5], ',')
                                                   AS first_keys_csv
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("agg", "collect"),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregates: per-group value lists/sets. collect_list
    order is partition-order-dependent, so every exposed collection is
    canonicalized (sort_array / slice of sorted) — the same determinism
    rule the registry mandates for float sums. At 100 TB collect into
    bounded slices only (here: top-5 keys), never unbounded lists.
    Collections leave the plan as csv scalars (driver canonicalizer
    can't sort raw array columns)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments_csv"
        ),
        F.count("c_custkey").cast("int").alias("n_members"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("c_custkey")), 1, 5),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("first_keys_csv"),
    )


_HIST_LO, _HIST_HI, _HIST_BUCKETS = 0.0, 600000.0, 12


@register(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor((o_totalprice - {_HIST_LO})
                      / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})),
                 {_HIST_BUCKETS - 1}) AS INT)            AS bucket,
           {_HIST_LO} + CAST(least(floor((o_totalprice - {_HIST_LO})
                      / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})),
                 {_HIST_BUCKETS - 1}) AS INT)
               * (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS}) AS bucket_lo,
           CAST(count(*) AS BIGINT)                      AS n
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("agg", "histogram", "profile"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram of order values (12 buckets,
    overflow clamped into the last) — the distribution profile behind
    quality-threshold picking and skew diagnosis. Pure integer bucket
    arithmetic (identical in both engines, no float rounding concerns in
    the group keys) + one map-side-combined count shuffle. At 100 TB
    bounds come from a prior approx-quantile pass, not a full min/max
    scan."""
    o = table(spark, sf_dir, "orders")
    width = (_HIST_HI - _HIST_LO) / _HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("o_totalprice") - _HIST_LO) / width),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("int")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(_HIST_LO) + F.col("bucket") * width).alias("bucket_lo"),
            "n",
        )
    )


@register(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type ASC) AS rk
      FROM c)
    SELECT user_id, event_type AS modal_type, cnt AS modal_cnt
    FROM r WHERE rk = 1
    """,
    tags=("agg", "mode", "profile"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent event_type per
    user, ties broken by value order. Spark 4 has a mode() aggregate but
    its tie-break is engine-arbitrary — cross-engine determinism needs
    the explicit two-stage shape: count per (group, value) with map-side
    combine (the only full-data shuffle), then a row_number pick over the
    distinct-pairs frame, which is |groups|x|values| — tiny relative to
    the input, so the second shuffle is noise at any scale."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), F.col("cnt").alias("modal_cnt"))
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS {_DEC})) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)
             AS qty_weighted_price,
           CAST(SUM(CAST(l_discount * l_extendedprice AS {_DEC})) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE)
             AS price_weighted_discount,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "weighted"),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted averages per group: quantity-weighted price and
    price-weighted discount — the corpus-rollup shape (weighting
    per-document quality by token count so short docs don't dominate).
    One hash aggregate with map-side partials; numerator and denominator
    accumulate in decimal so the result is order-insensitive and
    bit-identical to the oracle."""
    li = table(spark, sf_dir, "lineitem", parallel=True)
    wsum = F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast(_DEC))
    qsum = F.sum(F.col("l_quantity").cast(_DEC))
    dsum = F.sum((F.col("l_discount") * F.col("l_extendedprice")).cast(_DEC))
    psum = F.sum(F.col("l_extendedprice").cast(_DEC))
    return li.groupBy("l_returnflag").agg(
        (wsum.cast("double") / qsum.cast("double")).alias("qty_weighted_price"),
        (dsum.cast("double") / psum.cast("double")).alias("price_weighted_discount"),
        qsum.cast("double").alias("total_qty"),
    )


@register(
    "agg_hll_sketch",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority,
             COUNT(DISTINCT o_custkey % 4096) AS est_distinct,
             COUNT(DISTINCT o_custkey % 4096) AS exact_distinct
      FROM orders GROUP BY o_orderpriority),
    tot AS (SELECT COUNT(DISTINCT o_custkey % 4096) AS est_total_distinct
            FROM orders)
    SELECT per.o_orderpriority, per.est_distinct, per.exact_distinct,
           tot.est_total_distinct
    FROM per, tot
    """,
    tags=("agg", "sketch", "approx"),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-priority HyperLogLog over
    a bounded key domain (o_custkey % 4096, hll_sketch_agg at
    lgConfigK=21), re-aggregated with hll_union_agg into a grand-total
    estimate carried on every row. THE 100 TB distinct pattern: sketch
    once at the finest grain (per partition/day), then ANY rollup is a
    cheap sketch union — no second pass over raw data, unlike exact
    countDistinct whose expansion can't be reused across grains.

    Why the bounded domain: coupon-mode exactness holds only modulo
    value-hash coupon collisions — free-range keys at ~13k distinct
    hit an order-1 birthday collision, and the round-6 testdata regen
    DID (est one short in 4/5 priority groups at sf0.1; the regime
    test caught it). Domain 0..4095 is verified collision-free once
    and its values never change across regenerations, so per-group
    subsets AND the union stay exact at every SF — the
    COUNT(DISTINCT key%4096) oracle is an equality (regime pinned in
    tests/test_queries.py). This key is explicitly the BOUNDED-DOMAIN
    variant (r6 ADVICE item 2); real full-range estimation is
    hash-checked end-to-end by agg_approx_distinct_fullrange
    (in this module), and the production estimation regime
    (default lgConfigK=12, full-range keys) keeps its error-bound test
    in tests/test_approx_accuracy.py."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg(F.col("o_custkey") % 4096, F.lit(21)).alias("sk"),
        F.count_distinct(F.col("o_custkey") % 4096).alias("exact_distinct"),
    )
    total = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total_distinct")
    )
    return (
        per.select(
            "o_orderpriority",
            F.hll_sketch_estimate("sk").alias("est_distinct"),
            "exact_distinct",
        )
        .crossJoin(F.broadcast(total))
    )


# --- agg_countmin ----------------------------------------------------------
#
# Count-Min sketch (Cormode & Muthukrishnan 2005): a depth × width counter
# matrix where row d counts collisions under hash_d; point estimate =
# min over rows — an UPPER bound on the true frequency with error
# ≤ e/width · N at probability 1 - (1/2)^depth. Unlike agg_hll_sketch
# (engine-private sketch bytes, rows-only check), the hash family here is
# EXPLICIT affine-mod arithmetic, so the whole matrix is deterministic
# bigint math both engines reproduce — a sketch key with a full
# hash-green oracle.
_CMS_W = 256  # width (buckets per row)
_CMS_P = 1_000_003  # prime for the affine family
_CMS_HASHES = [(433, 17), (389, 251), (911, 643), (607, 89)]  # (a_d, b_d)


@register(
    "agg_countmin",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT {d} AS depth,
           ((user_id * {a} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 2"""
        for d, (a, b) in enumerate(_CMS_HASHES)
    ),
    tags=("agg", "sketch", "approx", "north_star"),
)
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build over the events stream's user_id frequency
    (heavy-hitter / rate-limit accounting): each row lands in one bucket
    per depth via the affine family h_d(x) = ((a_d·x + b_d) mod P) mod W,
    and the sketch is the (depth, bucket, cnt) matrix — ≤ depth·width =
    1024 cells regardless of input size. The estimate-side contract
    (read: min over depths of the probed cells, always ≥ the true count,
    within e/W·N w.h.p.) is pinned by
    tests/test_approx_accuracy.py::test_countmin_point_estimates.

    Scale shape: one explode(depth-array) — constant 4× row growth that
    partial aggregation collapses to ≤ 1024 cells per task BEFORE the
    exchange, so the shuffle moves ≤ tasks·1024 tiny rows however big
    the input; the reduce is the standard mergeable-sketch sum (sketches
    add cell-wise, the property that lets per-partition/per-day sketches
    roll up without touching raw data again). All arithmetic is
    nonnegative bigint mod — hash-exact across engines."""
    ev = table(spark, sf_dir, "events")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (((F.col("user_id") * a + b) % _CMS_P) % _CMS_W).alias("bucket"),
            )
            for d, (a, b) in enumerate(_CMS_HASHES)
        ]
    )
    return (
        ev.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


_CMS_TOPK = 20


def _cms_heavy_oracle() -> str:
    mats = ",\n".join(
        f"""
    m{d} AS (
      SELECT ((user_id * {a} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket,
             count(*) AS cnt
      FROM events GROUP BY 1)"""
        for d, (a, b) in enumerate(_CMS_HASHES)
    )
    joins = "\n".join(
        f"    JOIN m{d} a{d} ON ((p.user_id * {a} + {b}) % {_CMS_P}) % {_CMS_W} = a{d}.bucket"
        for d, (a, b) in enumerate(_CMS_HASHES)
    )
    least = ", ".join(f"a{d}.cnt" for d in range(len(_CMS_HASHES)))
    return f"""
    WITH {mats},
    probes AS (SELECT DISTINCT user_id FROM events)
    SELECT p.user_id, CAST(least({least}) AS BIGINT) AS est
    FROM probes p
{joins}
    ORDER BY est DESC, p.user_id
    LIMIT {_CMS_TOPK}
    """


@register(
    "agg_countmin_heavy",
    oracle=_cms_heavy_oracle(),
    tags=("agg", "sketch", "approx", "north_star", "topk"),
)
def agg_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ side of the Count-Min story — heavy hitters from the
    sketch: probe every candidate key against the matrix agg_countmin
    builds, estimate = min over depths of the probed cells (the CMS
    point query), return the top-K by estimate with a user_id total-
    order tiebreak. est ≥ true count always (the upper-bound property
    tests/test_approx_accuracy.py pins), so CMS top-K has no false
    NEGATIVES — the reason rate limiters and hot-key detectors use it.

    Scale shape: the matrix is ≤ depth·width = 1024 rows whatever the
    input, so it BROADCASTS; the probe explodes each candidate to its 4
    (depth, bucket) coordinates — constant growth — hash-joins the tiny
    matrix with zero shuffle, and the min folds in the per-key groupBy
    (one exchange on the candidate key, partial-min combined). At
    100 TB the candidate set is itself sketch-derived (or the key
    dictionary); nothing rescans raw events to answer a point query —
    that is the entire point of maintaining the sketch."""
    matrix = agg_countmin(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    probes = ev.select("user_id").distinct()
    coords = probes.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        (((F.col("user_id") * a + b) % _CMS_P) % _CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for d, (a, b) in enumerate(_CMS_HASHES)
                ]
            ).alias("c")
        ).alias("c"),
    ).select("user_id", F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket"))
    return (
        coords.join(F.broadcast(matrix), ["depth", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("bigint").alias("est"))
        .orderBy(F.desc("est"), "user_id")
        .limit(_CMS_TOPK)
    )


def _cms_cells_sql(extra_key: str = "") -> str:
    """UNION ALL of the per-depth bucket aggregates, optionally keyed by
    an extra column (e.g. the day, for the merge proof)."""
    sel = f"{extra_key}, " if extra_key else ""
    grp = "1, 3" if extra_key else "2"
    return "\n    UNION ALL\n".join(
        f"""
    SELECT {sel}{d} AS depth,
           ((user_id * {a} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY {grp}"""
        for d, (a, b) in enumerate(_CMS_HASHES)
    )


@register(
    "agg_countmin_merge",
    oracle=f"""
    WITH g AS ({_cms_cells_sql()}),
    daily AS ({_cms_cells_sql("CAST(ts AS DATE) AS day")}),
    m AS (SELECT depth, bucket, CAST(sum(cnt) AS BIGINT) AS cnt_merged
          FROM daily GROUP BY 1, 2)
    SELECT g.depth, g.bucket, g.cnt AS cnt_global, m.cnt_merged
    FROM g JOIN m ON g.depth = m.depth AND g.bucket = m.bucket
    """,
    tags=("agg", "sketch", "approx", "mergeable"),
)
def agg_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY, verified as a key: Count-Min sketches add
    cell-wise, so per-day sketches summed must equal the sketch of the
    whole stream — the property that makes the 100 TB pattern work
    (sketch at the finest grain — per partition, per day, per file —
    and answer any coarser question by merging matrices, never
    re-touching raw data; the CMS analog of agg_hll_sketch's
    hll_union_agg rollup). Output carries BOTH derivations side by side
    — (depth, bucket, cnt_global, cnt_merged) — so the oracle hash pins
    their equality cell-by-cell, and the inner join doubles as the
    completeness check (a cell present in one derivation but not the
    other would drop rows and fail the count).

    Scale shape: the daily pass is one exchange of ≤ tasks·days·1024
    partial cells (map-side combined); the merge groups a
    days×1024-row frame — trivially small; the global matrix broadcasts
    into the final join. Nothing rescans events twice at scale — the
    global column here exists only as the verification twin."""
    ev = table(spark, sf_dir, "events")

    def cells(extra=None):
        arr = F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    (((F.col("user_id") * a + b) % _CMS_P) % _CMS_W).alias(
                        "bucket"
                    ),
                )
                for d, (a, b) in enumerate(_CMS_HASHES)
            ]
        )
        cols = ["c.depth", "c.bucket"] + ([extra] if extra else [])
        base = ev.select(
            F.explode(arr).alias("c"),
            *( [F.col("ts").cast("date").alias("day")] if extra else [] ),
        )
        return base.groupBy(
            *([F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket")]
              + ([F.col("day")] if extra else []))
        ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))

    global_m = cells()
    merged = (
        cells(extra="day")
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt_merged"))
    )
    return (
        global_m.withColumnRenamed("cnt", "cnt_global")
        .join(merged, ["depth", "bucket"])
        .select("depth", "bucket", "cnt_global", "cnt_merged")
    )


# --- agg_bitmap_distinct ---------------------------------------------------


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4 bitmap aggregates — the
    shuffle-light alternative to count(distinct): stage 1 groups by
    (key, bitmap_bucket_number(value)) and ORs per-bucket bit positions
    into fixed 4KB bitmaps (map-side combinable!); stage 2 sums
    bitmap_count per key. The wire carries bitmaps, not values — for
    n distinct values per group the shuffle is n/32768 × 4KB instead of
    n × 8B rows, and unlike approx_count_distinct the answer is exact.
    COUNT(DISTINCT) in Spark plans an Expand + double shuffle of raw
    values; this is the layout that replaces it at 100 TB."""
    l = table(spark, sf_dir, "lineitem")
    per_bucket = (
        l.select("l_returnflag", F.col("l_orderkey").alias("v"))
        .groupBy(
            "l_returnflag", F.expr("bitmap_bucket_number(v)").alias("bucket")
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(v))").alias("bm"))
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_orders"))
    )


# --- agg_approx_topk -------------------------------------------------------


@register(
    "agg_approx_topk",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch", "topk"),
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4's approx_top_k sketch, exploded back to
    (item, count) rows at the plan boundary (array-of-struct output
    would break the driver canonicalizer). Sized so the check is
    EXACT — k=64 and maxItemsTracked=4096 both exceed the event_type
    cardinality (pinned by tests/test_queries.py::
    test_approx_topk_regime_is_exact), so the sketch degenerates to
    true counts and the
    plain GROUP BY oracle is an equality, not a bound. At real
    cardinality the same plan keeps a fixed-size sketch per partition
    and merges — the mergeable-summary scale pattern of agg_hll_sketch
    applied to frequency. (At production k << distinct the check
    becomes error-bounded, like the other sketches.)"""
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 64, 4096)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").alias("cnt"),
        )
    )


# --- agg_skew_kurtosis -----------------------------------------------------


@register(
    "agg_skew_kurtosis",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)  AS s1,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                  AS DOUBLE)                                         AS s2,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                           AS DECIMAL(27,6))) AS DOUBLE)             AS s3,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                           AS DECIMAL(27,6))) AS DOUBLE)             AS s4
      FROM lineitem GROUP BY l_returnflag),
    c AS (
      SELECT l_returnflag, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS v,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)
               AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM m)
    SELECT l_returnflag,
           {{q_mu}}   AS mean_qty,
           {{q_skew}} AS skewness,
           {{q_kurt}} AS kurtosis_excess
    FROM c
    """.format(
        q_mu="floor((mu) * 1e6 + 0.5) / 1e6",
        q_skew="floor((m3 / sqrt(v * v * v)) * 1e6 + 0.5) / 1e6",
        q_kurt="floor((m4 / (v * v) - 3) * 1e6 + 0.5) / 1e6",
    ),
    tags=("agg", "stats"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment statistics (skewness, excess kurtosis) per
    group — the distribution-shape signals a data-quality monitor
    tracks for drift. Same discipline as agg_stats_advanced, one order
    higher: raw power sums Σx..Σx⁴ accumulate as exact decimals (one
    map-side-combined pass), central moments and the normalized ratios
    derive through a textually mirrored IEEE double sequence, and the
    6 dp floor-quantize seals the boundary. Spark's native skewness()/
    kurtosis() are single-pass central-update aggregates whose
    partition order leaks below the grid — same reason stddev/corr were
    rewritten."""
    li = table(spark, sf_dir, "lineitem", parallel=True)
    dec = "decimal(27,6)"
    x = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("s1"),
        F.sum((x * x).cast(dec)).cast("double").alias("s2"),
        F.sum((x * x * x).cast(dec)).cast("double").alias("s3"),
        F.sum((x * x * x * x).cast(dec)).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    v = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "l_returnflag",
        quantize(mu).alias("mean_qty"),
        quantize(m3 / F.sqrt(v * v * v)).alias("skewness"),
        quantize(m4 / (v * v) - 3).alias("kurtosis_excess"),
    )


# --- agg_linreg -------------------------------------------------------------
#
# Exact per-group OLS (y = l_extendedprice on x = l_quantity) from
# sufficient statistics. The whole fit reduces to five sums — the classic
# "ML on SQL engines" shape: one map-side-combinable aggregate, no
# iteration, no driver math. Portability discipline (same family as
# agg_skew_kurtosis / graph_pagerank):
#   1. quantize inputs to integer cents: floor(v*100+0.5) — both engines
#      land on the identical bigint;
#   2. per-row products in bigint (bounded: x≤5001c, y≤1e7c → xy≤5e10,
#      y²≤1e14, all << 2^63);
#   3. accumulate in DECIMAL(38,0) — exact, order-insensitive (y² sums
#      reach ~6e19 at sf0.1, past int64);
#   4. cast the exact sums to DOUBLE (correctly rounded in both engines)
#      and run the closed-form fit as a textually mirrored float
#      expression — identical IEEE ops on identical inputs;
#   5. quantize outputs to 1e-6.

_LINREG_FLOAT = {
    # the float-domain fit, shared textually by both engines
    "num": "(n * sxy - sx * sy)",
    "denx": "(n * sxx - sx * sx)",
    "deny": "(n * syy - sy * sy)",
}

_SQL_LINREG = f"""
    WITH q AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)      AS xs,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ys
      FROM lineitem),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE)                            AS n,
             CAST(SUM(CAST(xs AS DECIMAL(38,0))) AS DOUBLE)      AS sx,
             CAST(SUM(CAST(ys AS DECIMAL(38,0))) AS DOUBLE)      AS sy,
             CAST(SUM(CAST(xs * xs AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(xs * ys AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(ys * ys AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM q GROUP BY l_returnflag),
    f AS (
      SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
             {_LINREG_FLOAT["num"]} / {_LINREG_FLOAT["denx"]} AS slope,
             (sy - ({_LINREG_FLOAT["num"]} / {_LINREG_FLOAT["denx"]}) * sx)
               / n / 100.0 AS intercept,
             ({_LINREG_FLOAT["num"]} * {_LINREG_FLOAT["num"]})
               / ({_LINREG_FLOAT["denx"]} * {_LINREG_FLOAT["deny"]}) AS r2
      FROM m)
    SELECT l_returnflag, n_rows,
           {quantize_sql("slope")}     AS slope,
           {quantize_sql("intercept")} AS intercept,
           {quantize_sql("r2")}        AS r2
    FROM f
"""


@register("agg_linreg", oracle=_SQL_LINREG, tags=("agg", "ml", "stats"))
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit of extendedprice on quantity: slope,
    intercept, R² per returnflag — exact, from one aggregation pass.

    Scale story: the expensive part is ONE groupBy over five bigint
    products — partial aggregation collapses each partition to one row
    per group before the shuffle, so the exchange moves |groups| rows
    regardless of input size. No window, no join, no second pass; the
    same sums make the fit incremental (agg_incremental's merge law
    applies verbatim). Slope is scale-invariant under the shared ×100
    input quantization; the intercept descales by /100 at the end."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("xs"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("ys"),
    )
    dec = "decimal(38,0)"
    m = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("xs").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("ys").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("xs") * F.col("xs")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("xs") * F.col("ys")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("ys") * F.col("ys")).cast(dec)).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    f = m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n") / F.lit(100.0)).alias(
            "intercept"
        ),
        ((num * num) / (denx * deny)).alias("r2"),
    )
    return f.select(
        "l_returnflag",
        "n_rows",
        quantize(F.col("slope")).alias("slope"),
        quantize(F.col("intercept")).alias("intercept"),
        quantize(F.col("r2")).alias("r2"),
    )


_CORR_PAIRS = (
    ("q", "e"), ("q", "d"), ("q", "t"), ("e", "d"), ("e", "t"), ("d", "t")
)
_CORR_SHORT = {"q": "l_quantity", "e": "l_extendedprice", "d": "l_discount", "t": "l_tax"}


def _corr_oracle() -> str:
    scaled = ",\n             ".join(
        f"CAST(floor({col} * 100 + 0.5) AS BIGINT) AS {s}"
        for s, col in _CORR_SHORT.items()
    )
    sums = ",\n             ".join(
        [f"CAST(COUNT(*) AS DOUBLE) AS n"]
        + [
            f"CAST(SUM(CAST({s} AS DECIMAL(38,0))) AS DOUBLE) AS s_{s}"
            for s in _CORR_SHORT
        ]
        + [
            f"CAST(SUM(CAST({a} * {b} AS DECIMAL(38,0))) AS DOUBLE) AS s_{a}{b}"
            for a in _CORR_SHORT
            for b in _CORR_SHORT
            if a <= b
        ]
    )
    corrs = ",\n           ".join(
        quantize_sql(
            f"(n * s_{min(a,b)}{max(a,b)} - s_{a} * s_{b})"
            f" / sqrt((n * s_{a}{a} - s_{a} * s_{a})"
            f" * (n * s_{b}{b} - s_{b} * s_{b}))"
        )
        + f" AS corr_{a}_{b}"
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH q AS (
      SELECT {scaled}
      FROM lineitem),
    m AS (
      SELECT {sums}
      FROM q)
    SELECT CAST(n AS BIGINT) AS n_rows,
           {corrs}
    FROM m
    """


@register("agg_corr_matrix", oracle=_corr_oracle(), tags=("agg", "ml", "stats"))
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix over lineitem's four
    numeric measures (quantity, extendedprice, discount, tax) — the
    multivariate sibling of agg_linreg and the feature-screening step an
    ML pipeline runs before training. Same exactness discipline: inputs
    quantized to integer cents (scale factors cancel in Pearson),
    per-row products in bounded bigint, DECIMAL(38,0) accumulation, one
    textually-mirrored float expression per coefficient, 1e-6 output
    quantization.

    Scale story: ALL 15 sufficient statistics ride ONE global aggregate
    — partial (map-side) combine reduces every partition to a single
    15-value row, so the exchange carries |partitions| rows total; the
    d² cross-moment trick is the same one embedding_gram uses for its
    dim² matrix. Adding variables grows the row width, never the
    shuffle row count."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        *[
            F.floor(F.col(col) * 100 + 0.5).cast("bigint").alias(s)
            for s, col in _CORR_SHORT.items()
        ]
    )
    dec = "decimal(38,0)"
    aggs = (
        [F.count(F.lit(1)).cast("double").alias("n")]
        + [F.sum(F.col(s).cast(dec)).cast("double").alias(f"s_{s}") for s in _CORR_SHORT]
        + [
            F.sum((F.col(a) * F.col(b)).cast(dec)).cast("double").alias(f"s_{a}{b}")
            for a in _CORR_SHORT
            for b in _CORR_SHORT
            if a <= b
        ]
    )
    m = q.agg(*aggs)

    def corr(a: str, b: str):
        lo, hi = min(a, b), max(a, b)
        num = F.col("n") * F.col(f"s_{lo}{hi}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        va = F.col("n") * F.col(f"s_{a}{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        vb = F.col("n") * F.col(f"s_{b}{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        return quantize(num / F.sqrt(va * vb))

    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        *[corr(a, b).alias(f"corr_{a}_{b}") for a, b in _CORR_PAIRS],
    )


# --- agg_diversity -----------------------------------------------------------

_DIV_COHORTS = 16


@register(
    "agg_diversity",
    oracle=f"""
    WITH c AS (
      SELECT user_id % {_DIV_COHORTS} AS cohort, event_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT cohort,
             CAST(SUM(cnt) AS BIGINT)        AS total,
             CAST(SUM(cnt * cnt) AS BIGINT)  AS sumsq,
             CAST(COUNT(*) AS BIGINT)        AS n_types
      FROM c GROUP BY cohort)
    SELECT cohort, total, n_types,
           1.0 - CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE)
                                          * CAST(total AS DOUBLE)) AS gini_simpson
    FROM m
    """,
    tags=("agg", "stats", "diversity"),
)
def agg_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity index per user cohort: the Gini–Simpson
    index 1 − Σpᵢ² of each cohort's event-type mix — the
    category-concentration metric (ecology's Simpson, economics'
    inverse-Herfindahl). Chosen over Shannon entropy deliberately:
    entropy needs log(), which is NOT correctly-rounded libm math and
    can differ by an ulp between the JVM and C runtimes — Gini–Simpson
    is one exact integer ratio (Σcnt², total²) and a single mirrored
    double division, so the oracle holds bit-exact with no quantization.

    Scale story: two stacked map-side-combinable aggregates — the first
    exchange carries (cohort × event_type) partial counts, the second
    |cohorts| rows; AQE coalesces both. The sumsq trick turns a
    per-category distribution metric into plain sums — no window, no
    collect, and sketch-mergeable across days the way agg_countmin_merge
    verifies (Σcnt² of merged counts ≠ Σ of daily Σcnt², so true
    rollups re-merge counts first — documented for the rollup user)."""
    ev = table(spark, sf_dir, "events", parallel=True)
    c = (
        ev.select((F.col("user_id") % _DIV_COHORTS).alias("cohort"), "event_type")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = c.groupBy("cohort").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sumsq"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return m.select(
        "cohort",
        "total",
        "n_types",
        (
            F.lit(1.0)
            - F.col("sumsq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double"))
        ).alias("gini_simpson"),
    )


# --- agg_cooccurrence -------------------------------------------------------
#
# Market-basket pair support over (user, event_type) baskets. Counts are
# "how many users did BOTH a and b"; support and lift are bigint-DIV ppm
# (float-free, sharp edge #8). Lift numerator n_ab * N * 1e6 is bounded
# by n_users^2 * 1e6 — fine in bigint to ~3e6 users; beyond that switch
# the ppm arithmetic to DECIMAL(38,0) (documented, not needed at any
# test SF).


@register(
    "agg_cooccurrence",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM u GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM u),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_ab,
           p.n_ab * 1000000 // tot.n_users                          AS support_ppm,
           (p.n_ab * tot.n_users * 1000000) // (na.n_t * nb.n_t)    AS lift_ppm
    FROM p
    CROSS JOIN tot
    JOIN n na ON na.event_type = p.type_a
    JOIN n nb ON nb.event_type = p.type_b
    """,
    tags=("agg", "ml", "market_basket"),
)
def agg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every unordered pair of event
    types, the number of users who did both, plus support and lift in
    ppm — the frequent-itemset sufficient statistic behind
    recommendation and anomaly rules (lift >> 1e6 means the pair
    travels together).

    Scale story: ONE user-keyed exchange builds every statistic. The
    basket build is groupBy(user).collect_set — the partial aggregate
    dedups map-side and is bounded by the alphabet, so what shuffles is
    (user, partial-set), never raw events. Pair expansion needs NO
    self-join: each sorted basket explodes into its own C(k,2) pairs
    via array transforms, and marginals (n_t) and the user total both
    re-derive from the SAME basket frame (AQE reuses its exchange), so
    the rollups past it are alphabet-sized. A self-join on user_id
    (the oracle's formulation) would shuffle the basket table twice at
    100 TB; this shape reads events once. Support/lift are bigint-DIV
    ppm — float-free, no quantization."""
    ev = table(spark, sf_dir, "events")
    baskets = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    n = (
        baskets.select(F.explode("types").alias("type_key"))
        .groupBy("type_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) ->"
                    " transform(slice(types, i + 2, size(types)),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(n.withColumnRenamed("n_t", "na")),
            F.col("type_a") == F.col("type_key"),
        )
        .drop("type_key")
        .join(
            F.broadcast(n.withColumnRenamed("n_t", "nb")),
            F.col("type_b") == F.col("type_key"),
        )
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.expr("n_ab * 1000000 DIV n_users").alias("support_ppm"),
            F.expr("(n_ab * n_users * 1000000) DIV (na * nb)").alias(
                "lift_ppm"
            ),
        )
    )


# --- agg_rfm ----------------------------------------------------------------
#
# RFM segmentation: recency / frequency / monetary quartile scores per
# customer, rolled up to segment counts. The quartile rank is ntile(4)
# over a TOTAL order (metric, custkey) so tied metrics score
# deterministically in both engines. Scale note: ntile over all
# customers is a single-partition sort of the ALREADY-AGGREGATED
# per-customer table (|customers| ≪ |orders|); past ~10⁸ customers the
# production swap is quartile BOUNDARIES from approx_percentile
# broadcast back as a range join — same scores, two scans, no global
# sort. The oracle-checked semantics are the ntile form.


@register(
    "agg_rfm",
    oracle="""
    WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    per AS (
      SELECT o_custkey,
             datediff('day', max(CAST(o_orderdate AS DATE)),
                      (SELECT maxd FROM anchor))               AS recency_days,
             COUNT(*)                                          AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(27,6)))          AS monetary_dec
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             CAST(ntile(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS BIGINT) AS r_score,
             CAST(ntile(4) OVER (ORDER BY frequency   DESC, o_custkey) AS BIGINT) AS f_score,
             CAST(ntile(4) OVER (ORDER BY monetary_dec DESC, o_custkey) AS BIGINT) AS m_score,
             monetary_dec
      FROM per)
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT)                    AS n_customers,
           CAST(SUM(monetary_dec) AS DOUBLE)           AS segment_value
    FROM scored GROUP BY 1, 2, 3
    """,
    tags=("agg", "window", "analytics"),
)
def agg_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation over orders. The per-customer reduce
    (one shuffle on o_custkey) comes FIRST, so the three global ntile
    windows sort only customer-grain rows; the anchor date is a 1-row
    broadcast. Money stays DECIMAL through both aggregation levels and
    casts to double only at the output boundary."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("lastd"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("monetary_dec"),
        )
        .join(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").alias("recency_days"),
            "frequency",
            "monetary_dec",
        )
    )
    scored = per.select(
        "o_custkey",
        "monetary_dec",
        F.ntile(4)
        .over(W.orderBy(F.col("recency_days").asc(), F.col("o_custkey")))
        .cast("long")
        .alias("r_score"),
        F.ntile(4)
        .over(W.orderBy(F.col("frequency").desc(), F.col("o_custkey")))
        .cast("long")
        .alias("f_score"),
        F.ntile(4)
        .over(W.orderBy(F.col("monetary_dec").desc(), F.col("o_custkey")))
        .cast("long")
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("monetary_dec").cast("double").alias("segment_value"),
    )


# --- agg_decay_sum ------------------------------------------------------------
#
# Half-life-decayed engagement score — the recency weighting every
# recommendation/feature pipeline applies. Float-free: value is
# micro-quantized FIRST (floor(v·1e6 + 0.5), the registry.quantize
# idiom), then decayed by INTEGER division by 2^k (k = age in weeks,
# capped) — no pow/exp libm edge anywhere, sums are exact bigints, and
# the one double division (by 1e6) happens identically at the output
# boundary of both engines.


@register(
    "agg_decay_sum",
    oracle="""
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
    e AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS micro,
             LEAST(datediff('day', CAST(ts AS DATE),
                            (SELECT maxd FROM anchor)) // 7, 20) AS k
      FROM events WHERE value IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(micro // CAST(power(2, k) AS BIGINT)) AS BIGINT)
             AS decayed_micro,
           CAST(SUM(micro // CAST(power(2, k) AS BIGINT)) AS DOUBLE) / 1000000
             AS decay_score
    FROM e GROUP BY event_type
    """,
    tags=("agg", "events", "analytics"),
)
def agg_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type half-life (7-day) decayed value sum. Scan-side
    expressions + one map-side-combinable groupBy — the cheapest
    aggregate class; the anchor date is a 1-row broadcast. 2^k for
    k ≤ 20 is exact in double and exact after the bigint cast, so the
    per-row decay is pure integer division."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    e = (
        ev.filter(F.col("value").isNotNull())
        .join(F.broadcast(anchor))
        .select(
            "event_type",
            F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("micro"),
            F.expr("LEAST(datediff(maxd, to_date(ts)) DIV 7, 20)").alias("k"),
        )
    )
    return (
        e.withColumn("dec1", F.expr("micro DIV CAST(pow(2, k) AS BIGINT)"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("dec1").alias("decayed_micro"),
            (F.sum("dec1").cast("double") / 1000000).alias("decay_score"),
        )
    )


# --- agg_weighted_median ----------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
    WITH q AS (
      SELECT l_returnflag, l_quantity AS v,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w
      FROM lineitem),
    c AS (
      SELECT l_returnflag, v, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM q)
    SELECT l_returnflag, MIN(v) AS weighted_median
    FROM c WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
    tags=("agg", "weighted", "quantile"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (value where cumulative weight first reaches half
    the total), weights = price micro-quantized to exact bigint cents.
    Within equal values the cumulative sum crosses the half-line inside
    the same value run whatever the intra-run row order, so MIN(v)
    WHERE 2·cum ≥ total is deterministic WITHOUT a tiebreaker — the
    trick that makes a rank-dependent statistic order-insensitive. One
    hash(group) exchange shared by both windows and the final min."""
    l = table(spark, sf_dir, "lineitem")
    q = l.select(
        "l_returnflag",
        F.col("l_quantity").alias("v"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("w"),
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = q.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        c.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )


# --- agg_gini / agg_hhi -----------------------------------------------------
#
# Concentration/inequality metrics over exact integers. Gini uses the
# rank-weighted identity G = (Σ (2i − n − 1)·x_i) / (n·Σx) on values
# sorted ascending; within a run of EQUAL values the x factor is
# constant while the rank coefficients sum to a fixed total, so the
# numerator is invariant to intra-run order — deterministic without a
# tiebreaker, same trick as agg_weighted_median. HHI is Σ share² over
# per-entity sums (share in ppm) — pure integer until one final
# division.


@register(
    "agg_gini",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL AND value >= 0),
    r AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS i,
             COUNT(*)  OVER (PARTITION BY event_type) AS n,
             SUM(x)    OVER (PARTITION BY event_type) AS sx
      FROM q)
    SELECT event_type,
           CAST(SUM((2 * i - n - 1) * x) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * MAX(sx))
             AS gini
    FROM r GROUP BY event_type
    """,
    tags=("agg", "inequality"),
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Gini coefficient of (non-negative) event values —
    the inequality profile behind whale-detection and data-skew audits.
    Values micro-quantize to exact bigint first; the rank-weighted
    numerator accumulates in bigint (order-insensitive across equal
    values by the coefficient-sum argument above), and exactly one
    double division happens at the end — bit-identical cross-engine.
    One hash(event_type) exchange carries rank, count and sum windows
    together."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint").alias("x"),
    )
    wi = Window.partitionBy("event_type").orderBy("x")
    wp = Window.partitionBy("event_type")
    r = q.select(
        "event_type",
        "x",
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
    )
    # The rank-weighted numerator term reaches |2i−n−1|·x ≈ n·1e8 per row;
    # a bigint Σ overflows around n ≈ 3e5 per type (sf1) — accumulate in
    # DECIMAL(38,0) like every other stats plan (DuckDB's SUM(BIGINT) is
    # HUGEINT-exact already; identical after the double cast).
    return r.groupBy("event_type").agg(
        (
            F.sum(((2 * F.col("i") - F.col("n") - 1) * F.col("x")).cast("decimal(38,0)"))
            .cast("double")
            / (F.max("n").cast("double") * F.max("sx"))
        ).alias("gini")
    )


@register(
    "agg_hhi",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY o_custkey),
    t AS (SELECT SUM(v) AS tv, COUNT(*) AS n_entities FROM s),
    sh AS (
      SELECT t.n_entities, (s.v * 1000000000) // t.tv AS s_ppb
      FROM s, t)
    SELECT CAST(n_entities AS BIGINT) AS n_entities,
           CAST(SUM(s_ppb * s_ppb) AS DOUBLE) / 1e18 AS hhi
    FROM sh GROUP BY n_entities
    """,
    tags=("agg", "concentration"),
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of order revenue across
    customers (share-of-wallet; in a data pipeline the same statistic
    audits per-source corpus concentration). Float-free until the last
    step: per-entity sums are exact bigint cents, each share quantizes
    to parts-per-billion by INTEGER division against the broadcast
    total (identical floor in both engines), and Σ share_ppb² stays in
    bigint (≤ 1e18 · HHI, safe) — one final double division scales to
    the [0,1] HHI. The ppb floor under-counts each share by < 1e-9,
    bounding the HHI bias below 2e-9·n_entities — quantified, not
    hand-waved. One groupBy exchange + a broadcast scalar."""
    o = table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("v")
    )
    t = s.agg(F.sum("v").alias("tv"), F.count(F.lit(1)).alias("n_entities"))
    sh = s.crossJoin(F.broadcast(t)).select(
        "n_entities",
        F.expr("(v * 1000000000) DIV tv").alias("s_ppb"),
    )
    return sh.groupBy("n_entities").agg(
        (F.sum(F.col("s_ppb") * F.col("s_ppb")).cast("double") / F.lit(1e18)).alias(
            "hhi"
        )
    ).select(
        F.col("n_entities").cast("bigint").alias("n_entities"), "hhi"
    )


# --- agg_benford ------------------------------------------------------------
#
# Benford's-law first-digit screen over order totals — the classic
# forensic DQ test (fraud/fabrication detection on financial facts).
# Expected shares log10(1+1/d) are PRECOMPUTED integer ppm literals
# (no runtime log10 → no libm in the oracle path at all); the first
# digit comes from the integer part via bigint→string (never
# double→string, whose repr rules differ between engines).

_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_sql() -> str:
    case = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    return f"""
    WITH f AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1)
    SELECT digit, n,
           CAST(n * 1000000 // (SELECT CAST(sum(n) AS BIGINT) FROM g)
                AS BIGINT)                                   AS observed_ppm,
           CAST(CASE digit {case} END AS BIGINT)             AS expected_ppm,
           CAST(n * 1000000 // (SELECT CAST(sum(n) AS BIGINT) FROM g)
             - CAST(CASE digit {case} END AS BIGINT)
                AS BIGINT)                                   AS deviation_ppm
    FROM g
    """


@register("agg_benford", oracle=_benford_sql(), tags=("agg", "dq"))
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution vs Benford expectation.

    Shapes: one map-side-combinable 9-group aggregate, then a window
    total over the 9-row result (post-agg, driver-sized — not a data
    shuffle). All output columns are bigint (count, ppm via integer
    DIV, literal expectations) — bit-exact by construction. At 100 TB
    the digit extraction is codegen string ops on the scan; the
    exchange carries 9 partial rows per task."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mapping = F.create_map(
        *[F.lit(x) for d, p in _BENFORD_PPM.items() for x in (d, p)]
    )
    g = g.withColumn("_total", F.sum("n").over(Window.partitionBy()))
    return g.select(
        "digit",
        "n",
        F.expr("n * 1000000 DIV _total").cast("bigint").alias("observed_ppm"),
        mapping[F.col("digit")].cast("bigint").alias("expected_ppm"),
        (
            F.expr("n * 1000000 DIV _total")
            - mapping[F.col("digit")].cast("bigint")
        ).cast("bigint").alias("deviation_ppm"),
    )


# --- agg_winsorized_mean ----------------------------------------------------
#
# Winsorized and trimmed means per event type — the robust location
# estimators that survive the heavy tails dq_outlier_iqr flags.
# Bounds are DISCRETE picked percentiles (engine-identical doubles);
# clamped/trimmed sums go through decimal(27,6) accumulation (the
# registry's order-insensitivity rule for double sums).


_WINSOR_SQL = f"""
    WITH q AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS p05,
             quantile_disc(value, 0.95) AS p95
      FROM events GROUP BY 1)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(q.p05) AS p05,
           min(q.p95) AS p95,
           CAST(SUM(CAST(greatest(q.p05, least(q.p95, e.value)) AS {_DEC}))
                AS DOUBLE) / count(*) AS winsor_mean,
           CAST(SUM(CASE WHEN e.value >= q.p05 AND e.value <= q.p95
                         THEN CAST(e.value AS {_DEC}) ELSE CAST(0 AS {_DEC}) END)
                AS DOUBLE)
             / sum(CASE WHEN e.value >= q.p05 AND e.value <= q.p95
                        THEN 1 ELSE 0 END) AS trimmed_mean
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY 1
    """


@register("agg_winsorized_mean", oracle=_WINSOR_SQL, tags=("agg", "stats"))
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5–95% winsorized and trimmed means per event type.

    Shapes: per-type discrete percentiles (sort-agg), broadcast the
    tiny bound frame, one clamped aggregate over the re-scan — the
    dq_outlier_iqr two-pass pattern with a decimal-accumulated mean
    on top. Exactly two passes at any scale, second pass
    shuffle-free below the final per-type combine."""
    ev = table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias("p05"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    clamped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))
    inb = (F.col("value") >= F.col("p05")) & (F.col("value") <= F.col("p95"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
        (F.sum(clamped.cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "winsor_mean"
        ),
        (
            F.sum(F.when(inb, F.col("value").cast(_DEC)).otherwise(F.lit(0).cast(_DEC)))
            .cast("double")
            / F.sum(F.when(inb, 1).otherwise(0))
        ).alias("trimmed_mean"),
    )


# --- agg_autocorr -----------------------------------------------------------
#
# Lag-1 autocorrelation of the hourly event-count series per event
# type — the "is this series bursty or memoryless" scalar that decides
# whether events_anomaly's i.i.d. z-scores are even valid, and the
# time-series counterpart of graph_assortativity's Pearson form: six
# bigint sums + one fixed double-op finish. Consecutive-hour pairs
# come from a self-join on h+1 (a lag() over existing rows would
# silently pair across gaps in sparse hours).


_AUTOCORR_SQL = """
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS h
      FROM events),
    c AS (
      SELECT event_type, h, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY 1, 2),
    pr AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM c a JOIN c b ON a.event_type = b.event_type AND b.h = a.h + 1),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pr GROUP BY 1)
    SELECT event_type, m,
           CAST(m * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS autocorr_lag1
    FROM s
    """


@register("agg_autocorr", oracle=_AUTOCORR_SQL, tags=("events", "stats", "timeseries"))
def agg_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of hourly counts per event type.

    Shapes: one hash(event_type, hour) count aggregate (map-side
    combined) collapses the scan to |types|·|hours| rows; the
    consecutive-pair self-join and six-sum reduce run on that tiny
    frame. Counts are exact bigints; the Pearson finish is the same
    fixed mul/sub/sqrt/div sequence both engines execute on identical
    operands (hour counts stay < 2^26 through sf100, so every product
    here fits int64 with 12 bits to spare — documented bound, with
    DECIMAL(38,0) the swap if a series ever 4000×'s that)."""
    ev = table(spark, sf_dir, "events")
    c = (
        ev.select("event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = c.select("event_type", F.col("h").alias("ha"), F.col("n").alias("x"))
    b = c.select("event_type", (F.col("h") - 1).alias("ha"), F.col("n").alias("y"))
    pr = a.join(b, ["event_type", "ha"])
    s = pr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    deny = F.sqrt(
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select("event_type", "m", (num / (denx * deny)).alias("autocorr_lag1"))


# --- agg_percent_change_wow -------------------------------------------------
#
# Week-over-week change per event type: weekly counts joined to the
# previous week (consecutive-week self-join — the agg_autocorr
# discipline; lag() would silently pair across gaps), change in ppm by
# integer arithmetic. The trend line behind every metrics dashboard.


_WOW_SQL = """
    WITH w AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT a.event_type, CAST(a.wk AS BIGINT) AS wk,
           a.n AS n_cur, b.n AS n_prev,
           CAST((a.n - b.n) * 1000000 // b.n AS BIGINT) AS change_ppm
    FROM w a JOIN w b
      ON a.event_type = b.event_type AND b.wk = a.wk - 1
    """


@register("agg_percent_change_wow", oracle=_WOW_SQL, tags=("events", "analytics"))
def agg_percent_change_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week count change (ppm) per event type.

    Shapes: one weekly-count aggregate (map-side combined), then the
    consecutive-week pairing runs on the |types|·|weeks| frame. Weeks
    are epoch-day integer buckets (origin-convention-proof)."""
    ev = table(spark, sf_dir, "events")
    w = (
        ev.select(
            "event_type",
            F.expr(
                "datediff(to_date(ts), date '1970-01-01') DIV 7"
            ).alias("wk"),
        )
        .groupBy("event_type", "wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = w.select("event_type", F.col("wk").alias("wka"), F.col("n").alias("n_cur"))
    b = w.select(
        "event_type", (F.col("wk") + 1).alias("wka"), F.col("n").alias("n_prev")
    )
    return a.join(b, ["event_type", "wka"]).select(
        "event_type",
        F.col("wka").cast("bigint").alias("wk"),
        "n_cur",
        "n_prev",
        F.expr("(n_cur - n_prev) * 1000000 DIV n_prev").cast("bigint").alias(
            "change_ppm"
        ),
    )


# --- agg_audience_overlap ---------------------------------------------------
#
# Audience overlap: for each ordered pair of event types, the distinct
# users doing A, doing B, doing BOTH, and the Jaccard overlap in ppm —
# the segmentation/lookalike primitive. Exact via distinct user sets;
# the 100 TB swap is theta/HLL sketch intersection (agg_hll_sketch's
# family), traded here for exactness because the oracle is exact.


_AUDIENCE_SQL = """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
          FROM du GROUP BY 1),
    b AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT b.type_a, b.type_b, na.n_users AS n_a, nb.n_users AS n_b, b.n_both,
           CAST(b.n_both * 1000000
                // (na.n_users + nb.n_users - b.n_both) AS BIGINT)
             AS jaccard_ppm
    FROM b JOIN n na ON b.type_a = na.event_type
           JOIN n nb ON b.type_b = nb.event_type
    """


@register("agg_audience_overlap", oracle=_AUDIENCE_SQL, tags=("agg", "analytics"))
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience intersection + Jaccard (ppm) across event
    types.

    Shapes: distinct (type, user) once — ONE hash(user) exchange;
    the pair intersection is a self-join on user_id over that frame
    (each user contributes |types-they-did|² pairs, bounded by the
    type alphabet, NOT by event volume); per-type sizes broadcast
    onto the tiny pair frame. All-integer output."""
    ev = table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    n = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        both.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            F.expr("n_both * 1000000 DIV (n_a + n_b - n_both)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


# --- agg_view_maintenance ---------------------------------------------------
#
# Incremental view maintenance (IVM): a per-status (count, revenue)
# aggregate VIEW is maintained under the cdc_apply CDC feed by DELTA
# ALGEBRA — subtract each touched row's old contribution, add its new
# one — never recomputing from the base table. The oracle recomputes
# the aggregate over the APPLIED table, so equality proves the delta
# algebra: new_view = old_view − old(touch) + new(touch), with deletes
# contributing only a subtraction. Decimal accumulation makes the
# subtraction EXACT (the reason float IVM is untrustworthy and
# decimal IVM is not).


_IVM_SQL = """
    WITH feed AS (
      SELECT o_orderkey AS key, 1 AS version,
             CASE WHEN o_orderkey % 100 = 0 THEN 'D' ELSE 'U' END AS op,
             'v1-' || lower(o_orderstatus) AS new_status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'v2-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 100 <> 0),
    latest AS (
      SELECT key, op, new_status FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn
        FROM feed) WHERE rn = 1),
    applied AS (
      SELECT COALESCE(l.new_status, b.o_orderstatus) AS status,
             b.o_totalprice
      FROM orders b LEFT JOIN latest l ON b.o_orderkey = l.key
      WHERE l.op IS NULL OR l.op <> 'D')
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM applied GROUP BY status
    """


@register("agg_view_maintenance", oracle=_IVM_SQL, tags=("cdc", "agg", "ivm"))
def agg_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintained per-status aggregate under the CDC feed.

    The maintained view is computed INCREMENTALLY: (1) the old view
    aggregates the base once; (2) the touched-row frame (base ⨝
    collapsed feed — feed-sized, broadcast) yields two delta
    aggregates: −(old status contributions) and +(new status
    contributions, deletes excluded); (3) the three frames —
    all |status|-sized — merge by key and statuses whose count hits
    zero drop out. The base table is scanned exactly ONCE for the
    view and once for the touch join (both scans prune to 3 columns);
    nothing rescans per change. The oracle RECOMPUTES over the
    applied table, so the equality is the IVM correctness proof.
    Decimal accumulation makes subtraction exact — a double-sum view
    could not be maintained this way."""
    from pyspark.sql.window import Window as W

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f1 = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(1).alias("version"),
        F.when(F.col("o_orderkey") % 100 == 0, "D").otherwise("U").alias("op"),
        F.concat(F.lit("v1-"), F.lower("o_orderstatus")).alias("new_status"),
    )
    f2 = o.filter(
        (F.col("o_orderkey") % 20 == 0) & (F.col("o_orderkey") % 100 != 0)
    ).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        F.concat(F.lit("v2-"), F.lower("o_orderstatus")).alias("new_status"),
    )
    w = W.partitionBy("key").orderBy(F.desc("version"))
    latest = (
        f1.unionAll(f2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_status")
    )
    dec = "decimal(27,6)"
    old_view = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast(dec)).alias("rev"),
    )
    touched = o.join(F.broadcast(latest), o.o_orderkey == latest.key)
    minus = touched.groupBy(F.col("o_orderstatus").alias("status")).agg(
        (-F.count(F.lit(1))).cast("bigint").alias("n"),
        (-F.sum(F.col("o_totalprice").cast(dec))).alias("rev"),
    )
    plus = (
        touched.filter(F.col("op") != "D")
        .groupBy(F.col("new_status").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast(dec)).alias("rev"),
        )
    )
    merged = (
        old_view.unionAll(minus)
        .unionAll(plus)
        .groupBy("status")
        .agg(F.sum("n").cast("bigint").alias("n_orders"), F.sum("rev").alias("revd"))
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "status", "n_orders", F.col("revd").cast("double").alias("revenue")
    )


# --- agg_engagement_minutes -------------------------------------------------
#
# Session-time engagement rollup: total sessionized minutes and
# session counts per user (top users by engaged time) — the product
# metric the sessionize operator exists to feed. Durations are exact
# integer µs sums over the session frame.


_ENGAGE_TOPK = 100


_ENGAGE_SQL = f"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    f AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY rn)
                    > 21600000000
                  OR lag(us) OVER (PARTITION BY user_id ORDER BY rn) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM o),
    sess AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS session_seq,
             us
      FROM f),
    agg AS (
      SELECT user_id, session_seq,
             max(us) - min(us) AS dur_us
      FROM sess GROUP BY 1, 2),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(dur_us) AS BIGINT) AS engaged_us,
             CAST(sum(dur_us) // 60000000 AS BIGINT) AS engaged_minutes
      FROM agg GROUP BY 1),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY engaged_us DESC, user_id) AS r
      FROM per_user)
    SELECT CAST(r AS BIGINT) AS rk, user_id, n_sessions, engaged_us,
           engaged_minutes
    FROM rk WHERE r <= {_ENGAGE_TOPK}
    """


@register("agg_engagement_minutes", oracle=_ENGAGE_SQL, tags=("events", "analytics"))
def agg_engagement_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} users by total sessionized engagement time.

    Composes the sessionize operator (gap rule, total-order
    tiebreak) with a per-user rollup: session durations are exact µs
    integers, summed per user, global top-K by (engaged_us, user_id)
    total order. Shapes: sessionize's single hash(user) exchange
    feeds both the session frame and the rollup; the top-K is a
    TakeOrdered heap."""
    from pyspark.sql.window import Window as W

    from etl_cnpjs_spark.operators.relational import sessionize

    ev = table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", "event_id", 21_600_000_000)
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("duration_us").cast("bigint").alias("engaged_us"),
    )
    r = per_user.orderBy(F.desc("engaged_us"), F.asc("user_id")).limit(_ENGAGE_TOPK)
    return (
        r.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy().orderBy(F.desc("engaged_us"), F.asc("user_id"))
            ),
        )
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "user_id",
            "n_sessions",
            "engaged_us",
            F.expr("engaged_us DIV 60000000").cast("bigint").alias(
                "engaged_minutes"
            ),
        )
    )


# --- agg_skyline ------------------------------------------------------------
#
# Pareto front (skyline): orders not dominated on (order day,
# total price), both maximized — the multi-criteria "best tradeoffs"
# operator (skyline query literature; no SQL built-in anywhere).
# Dominance (q dominates p ⟺ q ≥ p on both axes, strict on at least
# one) decomposes into two window tests, each mirrored TEXTUALLY in
# both engines so tie semantics cannot diverge:
#   dominated ⟺ max(price | strictly later day)   ≥ my price
#             ∨ max(price | same day)             > my price
# (equal day + strictly higher price dominates; strictly later day +
# equal price dominates; exact duplicates do NOT dominate each other).
# The window form is O(n log n) — the NOT EXISTS oracle would be
# O(n²) and unrunnable at sf0.1.


_SKYLINE_SQL = """
    WITH p AS (
      SELECT o_orderkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             o_totalprice AS price
      FROM orders),
    w AS (
      SELECT o_orderkey, day, price,
             max(price) OVER (ORDER BY day DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS max_later,
             max(price) OVER (PARTITION BY day) AS max_same
      FROM p)
    SELECT o_orderkey, CAST(day AS BIGINT) AS day, price
    FROM w
    WHERE (max_later IS NULL OR max_later < price) AND price >= max_same
    """


@register("agg_skyline", oracle=_SKYLINE_SQL, tags=("agg", "skyline"))
def agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front over (day, price), both maximized.

    Shapes: one global range-frame window ordered by day (descending
    epoch-day integer) carries the strictly-later running max; the
    same-day max is a partition window on the same exchange. At scale
    the global window is the cost — the distributed swap is
    angular/grid partitioning with per-partition skylines merged by a
    final pass (the standard parallel-skyline decomposition),
    documented here; at a 750k-row dimension table the single window
    is the right call. Price comparisons are raw parquet doubles
    (identical bits, no arithmetic)."""
    from pyspark.sql.window import Window as W

    o = table(spark, sf_dir, "orders")
    p = o.select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day"),
        F.col("o_totalprice").alias("price"),
    )
    w_later = (
        W.orderBy(F.col("day").desc())
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_same = W.partitionBy("day")
    wdf = p.select(
        "o_orderkey",
        "day",
        "price",
        F.max("price").over(w_later).alias("max_later"),
        F.max("price").over(w_same).alias("max_same"),
    )
    return wdf.filter(
        (F.col("max_later").isNull() | (F.col("max_later") < F.col("price")))
        & (F.col("price") >= F.col("max_same"))
    ).select("o_orderkey", F.col("day").cast("bigint").alias("day"), "price")


# --- agg_topn_share ---------------------------------------------------------
#
# Top-N concentration: the share of total purchase value held by the
# top-10 users — the single concentration POINT a dashboard quotes
# next to agg_gini/agg_hhi's whole-distribution indices. Values
# micro-quantize to bigint before any summation; shares are integer
# ppm.

_TOPN_SHARE_N = 10


_TOPN_SHARE_SQL = f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS v_micro
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY 1),
    t AS (SELECT CAST(sum(v_micro) AS BIGINT) AS total_micro,
                 CAST(count(*) AS BIGINT) AS n_users FROM u),
    r AS (
      SELECT v_micro, row_number() OVER (ORDER BY v_micro DESC, user_id) AS rk
      FROM u)
    SELECT t.n_users, t.total_micro,
           CAST(sum(CASE WHEN r.rk <= {_TOPN_SHARE_N} THEN r.v_micro ELSE 0 END)
                AS BIGINT) AS topn_micro,
           CAST(sum(CASE WHEN r.rk <= {_TOPN_SHARE_N} THEN r.v_micro ELSE 0 END)
                * 1000000 // t.total_micro AS BIGINT) AS topn_share_ppm
    FROM r CROSS JOIN t
    GROUP BY t.n_users, t.total_micro
    """


@register("agg_topn_share", oracle=_TOPN_SHARE_SQL, tags=("agg", "analytics"))
def agg_topn_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{N} users' share of purchase value (ppm).

    Shapes: per-user micro sums (one hash(user) exchange), a global
    rank window over the user-sized frame, one scalar reduce. At
    100 TB the user frame is dimension-sized; the top-N could drop
    to a TakeOrdered heap + broadcast — the ranked form keeps the
    oracle textual."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("v_micro")
    )
    r = u.withColumn(
        "rk", F.row_number().over(W.orderBy(F.desc("v_micro"), F.asc("user_id")))
    )
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("v_micro").cast("bigint").alias("total_micro"),
        F.sum(F.when(F.col("rk") <= _TOPN_SHARE_N, F.col("v_micro")).otherwise(0))
        .cast("bigint")
        .alias("topn_micro"),
    ).select(
        "n_users",
        "total_micro",
        "topn_micro",
        F.expr("topn_micro * 1000000 DIV total_micro").cast("bigint").alias(
            "topn_share_ppm"
        ),
    )


# --- agg_grouping_sets_df ---------------------------------------------------
#
# GROUPING SETS via the Spark 4 DataFrame groupingSets() API (the
# existing agg_grouping_sets key covers the SQL form; this one pins
# the typed API surface):
# ((priority, status), (priority), (status), ()) over orders, with
# per-column GROUPING() flags (engine-portable, unlike GROUPING_ID's
# engine-specific bit order) and NULL-distinguishing labels.


_GSETS_SQL = """
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """


@register("agg_grouping_sets_df", oracle=_GSETS_SQL, tags=("agg",))
def agg_grouping_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with portable GROUPING() flags (all-integer
    money via cent-quantized accumulation).

    Shapes: Spark's Expand operator replicates each input row once per
    grouping set BEFORE the single hash aggregate — one exchange total
    (keyed on the expanded grouping tuple), exactly what agg_rollup/
    agg_cube already do; sets share map-side partials. GROUPING() per
    column instead of GROUPING_ID() because the two engines pack the
    bit vector in opposite orders — per-column flags are the portable
    (and self-documenting) surface."""
    o = table(spark, sf_dir, "orders")
    g = o.groupingSets(
        [
            [F.col("o_orderpriority"), F.col("o_orderstatus")],
            [F.col("o_orderpriority")],
            [F.col("o_orderstatus")],
            [],
        ],
        F.col("o_orderpriority"),
        F.col("o_orderstatus"),
    ).agg(
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    return g.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        "g_priority",
        "g_status",
        "n_orders",
        "total_cents",
    )


# --- agg_ratio_ci -----------------------------------------------------------
#
# Wilson 95% score interval for a conversion ratio per event_type:
# the A/B-report CI that stays inside [0,1] at small n (unlike the
# Wald interval events_ab_lift would naively imply). k = events with
# value above the threshold; all double arithmetic is a fixed textual
# formula over exact integers (k, n) with a correctly-rounded sqrt,
# then ppm-quantized.

_RCI_Z = 1.96
_RCI_THRESH = 50.0


_RCI_SQL = f"""
    WITH a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_RCI_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1)
    SELECT event_type, n, k,
           CAST(floor(CAST(k AS DOUBLE) / n * 1000000 + 0.5) AS BIGINT) AS p_ppm,
           CAST(floor(
             (CAST(k AS DOUBLE) / n + {_RCI_Z} * {_RCI_Z} / (2.0 * n)
              - {_RCI_Z} * sqrt(CAST(k AS DOUBLE) / n
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + {_RCI_Z} * {_RCI_Z} / (4.0 * n * n)))
             / (1.0 + {_RCI_Z} * {_RCI_Z} / n) * 1000000 + 0.5) AS BIGINT)
             AS lo_ppm,
           CAST(floor(
             (CAST(k AS DOUBLE) / n + {_RCI_Z} * {_RCI_Z} / (2.0 * n)
              + {_RCI_Z} * sqrt(CAST(k AS DOUBLE) / n
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + {_RCI_Z} * {_RCI_Z} / (4.0 * n * n)))
             / (1.0 + {_RCI_Z} * {_RCI_Z} / n) * 1000000 + 0.5) AS BIGINT)
             AS hi_ppm
    FROM a
    """


@register("agg_ratio_ci", oracle=_RCI_SQL, tags=("agg", "events", "ml"))
def agg_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% CI per event_type conversion ratio (ppm integers).

    Determinism: the only aggregates are exact integer (k, n); the CI
    is a per-group scalar formula written ONCE and textually mirrored
    (same operation order, correctly-rounded IEEE sqrt in both
    engines), then floor-quantized. Shapes: one map-side-combined
    groupBy on a tiny key domain."""
    ev = table(spark, sf_dir, "events")
    a = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > _RCI_THRESH, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    z2 = _RCI_Z * _RCI_Z
    p = "CAST(k AS DOUBLE) / n"
    rad = f"sqrt({p} * (1.0 - {p}) / n + {z2:.4f} / (4.0 * n * n))"
    lo = f"({p} + {z2:.4f} / (2.0 * n) - {_RCI_Z} * {rad}) / (1.0 + {z2:.4f} / n)"
    hi = f"({p} + {z2:.4f} / (2.0 * n) + {_RCI_Z} * {rad}) / (1.0 + {z2:.4f} / n)"
    return a.select(
        "event_type",
        "n",
        "k",
        F.expr(f"CAST(floor({p} * 1000000 + 0.5) AS BIGINT)").alias("p_ppm"),
        F.expr(f"CAST(floor(({lo}) * 1000000 + 0.5) AS BIGINT)").alias("lo_ppm"),
        F.expr(f"CAST(floor(({hi}) * 1000000 + 0.5) AS BIGINT)").alias("hi_ppm"),
    )


# --- agg_bitmap_words -------------------------------------------------------
#
# EXACT distinct counting via plain bigint-word bitmap OR — the
# engine-portable sibling of agg_bitmap_distinct (which pins Spark 4's
# bitmap_* aggregate surface; here the bitmap IS a bigint column, so
# the partials can persist in any parquet cube and re-aggregate in any
# engine): bucket user ids into 32-bit words (bucket = id DIV 32, bit =
# id % 32), bit_or the masks per (group, bucket), popcount-sum per
# group. Distinct-without-a-distinct: partials combine map-side like
# any sum (bit_or is associative/commutative/idempotent), so re-keyed
# rollups NEVER re-scan the fact table — the property
# count(DISTINCT) fundamentally lacks.


_BMD_SQL = """
    WITH m AS (
      SELECT event_type, user_id // 32 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS mask,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(bit_count(mask)) AS BIGINT) AS n_distinct_users
    FROM m GROUP BY 1
    """


@register("agg_bitmap_words", oracle=_BMD_SQL, tags=("agg", "events"))
def agg_bitmap_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via bitmap OR (integer).

    Shapes: stage 1 groups on (event_type, id DIV 32) with bit_or —
    map-side combined, 32 ids collapse into one bigint; stage 2 sums
    popcounts per event_type over a frame 32× smaller than the id
    domain. At 100 TB this is the mergeable-rollup layout: bitmap
    partials persist in a cube and re-aggregate along any dimension
    without touching raw events (what agg_hll_sketch does lossily,
    done exactly when the id domain is dense enough to afford it)."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.expr("user_id DIV 32").alias("bucket")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("mask"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return m.groupBy("event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(F.bit_count("mask")).cast("bigint").alias("n_distinct_users"),
    )


# --- agg_bootstrap_ci -------------------------------------------------------
#
# Poisson bootstrap CI for the per-type mean of `value` — THE
# distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google): instead of resampling n rows with
# replacement (impossible to coordinate across executors), each row
# gets an independent Poisson(1) weight per replicate. Weights come
# from the engine-portable multiplicative hash (sample_hash's idiom),
# inverse-CDF'd through FIXED integer thresholds — zero floats until
# the final interval, zero engine randomness, rerun-identical.

_BOOT_REPS = 32
_BOOT_KNUTH = 2654435761
_BOOT_MOD = 2**31
# P(Poisson(1) <= k) * 2^31, k = 0..4 (then clamp at 5)
_BOOT_T = (789972268, 1579944537, 1974930671, 2106592716, 2139508227)


def _boot_w(h: str) -> str:
    """Integer Poisson(1) inverse CDF over h ∈ [0, 2^31)."""
    return (
        f"(CASE WHEN {h} < {_BOOT_T[0]} THEN 0"
        f" WHEN {h} < {_BOOT_T[1]} THEN 1"
        f" WHEN {h} < {_BOOT_T[2]} THEN 2"
        f" WHEN {h} < {_BOOT_T[3]} THEN 3"
        f" WHEN {h} < {_BOOT_T[4]} THEN 4"
        f" ELSE 5 END)"
    )


def _boot_oracle() -> str:
    h = f"((event_id * {_BOOT_KNUTH} + r.rep * 97) % {_BOOT_MOD})"
    return f"""
    WITH reps AS (SELECT unnest(generate_series(1, {_BOOT_REPS})) AS rep),
    w AS (
      SELECT e.event_type, r.rep,
             {_boot_w(h)} AS w,
             CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS x_micro
      FROM events e CROSS JOIN reps r),
    rm AS (
      SELECT event_type, rep,
             CAST(sum(w * x_micro) // greatest(sum(w), 1) AS BIGINT)
               AS rep_mean_micro
      FROM w GROUP BY 1, 2),
    rk AS (
      SELECT event_type, rep_mean_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY rep_mean_micro, rep) AS rk
      FROM rm),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  // count(*) AS BIGINT) AS mean_micro
      FROM events GROUP BY 1)
    SELECT pt.event_type, pt.n, pt.mean_micro,
           CAST(max(CASE WHEN rk.rk = 2 THEN rk.rep_mean_micro END) AS BIGINT)
             AS boot_lo_micro,
           CAST(max(CASE WHEN rk.rk = {_BOOT_REPS - 1}
                         THEN rk.rep_mean_micro END) AS BIGINT)
             AS boot_hi_micro
    FROM pt JOIN rk ON pt.event_type = rk.event_type
    GROUP BY 1, 2, 3
    """


@register("agg_bootstrap_ci", oracle=_boot_oracle(), tags=("agg", "ml", "stats"))
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap interval (2nd / 31st of 32 replicate means ≈
    93.75% CI) for each event_type's mean value — all-integer.

    Shapes: the replicate fan-out is a scan-side explode (×32 narrow
    rows carrying only (type, w, x_micro)); ONE exchange on
    (event_type, rep) aggregates replicate sums map-side combined; the
    rank pass runs over |types|·32 rows. At 100 TB the fan-out
    multiplies scan CPU, not shuffle bytes — partial aggregation
    collapses each task's 32 replicate partials before the wire,
    which is the entire point of the Poisson formulation."""
    ev = table(spark, sf_dir, "events")
    h = f"((event_id * {_BOOT_KNUTH} + rep * 97) % {_BOOT_MOD})"
    w = ev.select(
        "event_type",
        F.expr(f"explode(sequence(1, {_BOOT_REPS}))").alias("rep"),
        "event_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("x_micro"),
    ).select(
        "event_type",
        "rep",
        F.expr(_boot_w(h)).alias("w"),
        "x_micro",
    )
    rm = w.groupBy("event_type", "rep").agg(
        F.expr("sum(w * x_micro) DIV greatest(sum(w), 1)")
        .cast("bigint")
        .alias("rep_mean_micro")
    )
    rk = rm.select(
        "event_type",
        "rep_mean_micro",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("rep_mean_micro", "rep"))
        .alias("rk"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) DIV count(1)"
        )
        .cast("bigint")
        .alias("mean_micro"),
    )
    return (
        pt.join(rk, "event_type")
        .groupBy("event_type", "n", "mean_micro")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("rep_mean_micro")))
            .cast("bigint")
            .alias("boot_lo_micro"),
            F.max(
                F.when(F.col("rk") == _BOOT_REPS - 1, F.col("rep_mean_micro"))
            )
            .cast("bigint")
            .alias("boot_hi_micro"),
        )
    )


# --- agg_boolean_suite ------------------------------------------------------
#
# The boolean-aggregate function surface: count_if / bool_and /
# bool_or (SQL:2023 ANY/EVERY) — the predicates-as-aggregates family
# the fn_* scalar keys don't touch. Bools cast to bigint at the
# boundary per house rule.


_BOOLAGG_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(value > 50) AS BIGINT) AS n_over_50,
           CAST(CASE WHEN bool_and(value >= 0) THEN 1 ELSE 0 END AS BIGINT)
             AS all_non_negative,
           CAST(CASE WHEN bool_or(value > 99) THEN 1 ELSE 0 END AS BIGINT)
             AS any_over_99,
           CAST(CASE WHEN bool_and(user_id IS NOT NULL) THEN 1 ELSE 0 END
                AS BIGINT) AS all_users_present
    FROM events GROUP BY 1
    """


@register("agg_boolean_suite", oracle=_BOOLAGG_SQL, tags=("agg", "functions"))
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or per event_type (integer-cast).

    One map-side-combined aggregate; every function partial-combines
    (AND/OR/IF-count are associative), so the exchange carries one
    row per (task, type)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("count_if(value > 50)").cast("bigint").alias("n_over_50"),
        F.expr("CASE WHEN bool_and(value >= 0) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("all_non_negative"),
        F.expr("CASE WHEN bool_or(value > 99) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("any_over_99"),
        F.expr("CASE WHEN bool_and(user_id IS NOT NULL) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("all_users_present"),
    )


# --- agg_rate_smoothing -----------------------------------------------------
#
# Empirical-Bayes rate smoothing — the ranking-pipeline fix for small
# denominators (a 1/1 "100% converter" must not outrank 95/100):
# shrink each user's conversion rate toward the GLOBAL rate with a
# fixed-strength Beta prior, smoothed = (k + C·p̄)/(n + C), C = 20.
# The global prior is exact integers broadcast once; the per-user
# formula is one mirrored double expression, ppm-quantized.

_SMOOTH_C = 20
_SMOOTH_THRESH = 50.0


_SMOOTH_SQL = f"""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_SMOOTH_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(k) AS BIGINT) AS gk
          FROM u)
    SELECT u.user_id, u.n, u.k,
           CAST(u.k * 1000000 // u.n AS BIGINT) AS raw_ppm,
           CAST(floor(
             (CAST(u.k AS DOUBLE)
              + {_SMOOTH_C} * (CAST(g.gk AS DOUBLE) / CAST(g.gn AS DOUBLE)))
             / (CAST(u.n AS DOUBLE) + {_SMOOTH_C}) * 1000000 + 0.5) AS BIGINT)
             AS smoothed_ppm
    FROM u, g
    """


@register("agg_rate_smoothing", oracle=_SMOOTH_SQL, tags=("agg", "ml"))
def agg_rate_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion rate with Beta(C·p̄, C·(1−p̄)) shrinkage
    (ppm integers).

    Shapes: one user aggregate (exact integer k, n), a 1-row global
    prior broadcast back, one mirrored double formula per user. The
    shrinkage constant is part of the registered semantics; production
    fits it by method of moments over the same (k, n) frame —
    documented seam, same plan shape."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > _SMOOTH_THRESH, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    g = u.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("k").cast("bigint").alias("gk"),
    )
    return u.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n",
        "k",
        F.expr("k * 1000000 DIV n").cast("bigint").alias("raw_ppm"),
        F.expr(
            f"CAST(floor((CAST(k AS DOUBLE)"
            f" + {_SMOOTH_C} * (CAST(gk AS DOUBLE) / CAST(gn AS DOUBLE)))"
            f" / (CAST(n AS DOUBLE) + {_SMOOTH_C}) * 1000000 + 0.5) AS BIGINT)"
        ).alias("smoothed_ppm"),
    )


# --- agg_hill_tail_index ----------------------------------------------------
#
# Hill estimator of the heavy-tail exponent of user activity: over
# the top-k order statistics of per-user event counts,
# α̂ = k / Σ ln(x_i / x_(k+1)) — the standard tail-index measurement
# (is the 90/10 skew a power law, and how heavy) that sizes skew
# mitigation (salting thresholds, hot-key caps). ln() terms micro-
# quantize per order statistic (the char-entropy discipline), the sum
# is bigint, and the final α̂ is one integer division.

_HILL_K = 50


_HILL_SQL = f"""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rk
      FROM u),
    ref AS (SELECT x AS xk1 FROM r WHERE rk = {_HILL_K + 1}),
    terms AS (
      SELECT CAST(floor(ln(CAST(r.x AS DOUBLE) / CAST(ref.xk1 AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS t_micro
      FROM r, ref WHERE r.rk <= {_HILL_K})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           CAST((SELECT xk1 FROM ref) AS BIGINT) AS x_k1,
           CAST(sum(t_micro) AS BIGINT) AS sum_ln_micro,
           CAST(CAST({_HILL_K} AS BIGINT) * 1000000 * 1000000
                // sum(t_micro) AS BIGINT) AS alpha_micro
    FROM terms
    """


@register("agg_hill_tail_index", oracle=_HILL_SQL, tags=("agg", "stats"))
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index α̂ over the top-50 user activity counts (micro
    integer).

    Shapes: one user aggregate, then a top-(k+1) rank over the
    user-grain frame (TakeOrdered-sized: only k+1 rows survive);
    ln(x/x_{{k+1}}) micro-quantizes per ORDER STATISTIC — k+1 libm
    calls total. At 100 TB the user frame outgrowing a sort is the
    same escape hatch events_rfm documents (2-pass threshold cut)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    r = u.select(
        "x",
        F.row_number().over(W.orderBy(F.desc("x"), "user_id")).alias("rk"),
    ).filter(F.col("rk") <= _HILL_K + 1)
    ref = r.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("x").alias("xk1")
    )
    terms = (
        r.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .select(
            F.floor(
                F.log(F.col("x").cast("double") / F.col("xk1").cast("double"))
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("t_micro"),
            "xk1",
        )
    )
    return terms.agg(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.max("xk1").cast("bigint").alias("x_k1"),
        F.sum("t_micro").cast("bigint").alias("sum_ln_micro"),
        F.expr(f"{_HILL_K} * 1000000 * CAST(1000000 AS BIGINT) DIV sum(t_micro)")
        .cast("bigint")
        .alias("alpha_micro"),
    )


# --- agg_spearman -----------------------------------------------------------
#
# Spearman rank correlation between user activity (event count) and
# user spend (Σ value micro) — Pearson on MIDRANKS, the
# outlier-robust association measure agg_corr_matrix's Pearson can't
# give on heavy-tailed usage data. Midranks carry as 2× integers
# (the Mann–Whitney trick), every moment is an exact bigint sum, and
# ρ is ONE mirrored double expression at the end.


_SPEARMAN_SQL = """
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS spend
      FROM events GROUP BY 1),
    r AS (
      SELECT
        2 * rank() OVER (ORDER BY freq) + count(*) OVER (PARTITION BY freq) - 1
          AS rf2,
        2 * rank() OVER (ORDER BY spend) + count(*) OVER (PARTITION BY spend) - 1
          AS rs2
      FROM u),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rf2) AS BIGINT) AS sf, CAST(sum(rs2) AS BIGINT) AS ss,
             CAST(sum(rf2 * rs2) AS BIGINT) AS sfs,
             CAST(sum(rf2 * rf2) AS BIGINT) AS sff,
             CAST(sum(rs2 * rs2) AS BIGINT) AS sss
      FROM r)
    SELECT n,
           CAST(floor(
             (CAST(n AS DOUBLE) * sfs - CAST(sf AS DOUBLE) * ss)
             / (sqrt(CAST(n AS DOUBLE) * sff - CAST(sf AS DOUBLE) * sf)
                * sqrt(CAST(n AS DOUBLE) * sss - CAST(ss AS DOUBLE) * ss))
             * 1000000 + 0.5) AS BIGINT) AS spearman_micro
    FROM m
    """


@register("agg_spearman", oracle=_SPEARMAN_SQL, tags=("agg", "stats", "ml"))
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between user frequency and spend (micro integer).

    Shapes: one user aggregate, two rank windows over the USER-grain
    frame (small — the events_rfm posture, same documented 2-pass
    escape at scale), exact integer moments, one mirrored double
    finish. Midranks (not plain ranks) keep tied users exact — plain
    rank() would bias ρ wherever counts tie, which user frequencies
    always do."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.floor(F.col("value") * 1000000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("spend"),
    )
    r = u.select(
        (
            2 * F.rank().over(W.orderBy("freq"))
            + F.count(F.lit(1)).over(W.partitionBy("freq"))
            - 1
        ).alias("rf2"),
        (
            2 * F.rank().over(W.orderBy("spend"))
            + F.count(F.lit(1)).over(W.partitionBy("spend"))
            - 1
        ).alias("rs2"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rf2").cast("bigint").alias("sf"),
        F.sum("rs2").cast("bigint").alias("ss"),
        F.sum(F.col("rf2") * F.col("rs2")).cast("bigint").alias("sfs"),
        F.sum(F.col("rf2") * F.col("rf2")).cast("bigint").alias("sff"),
        F.sum(F.col("rs2") * F.col("rs2")).cast("bigint").alias("sss"),
    )
    return m.select(
        "n",
        F.expr(
            "CAST(floor((CAST(n AS DOUBLE) * sfs - CAST(sf AS DOUBLE) * ss)"
            " / (sqrt(CAST(n AS DOUBLE) * sff - CAST(sf AS DOUBLE) * sf)"
            " * sqrt(CAST(n AS DOUBLE) * sss - CAST(ss AS DOUBLE) * ss))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("spearman_micro"),
    )


# --- agg_cramers_v ----------------------------------------------------------
#
# Cramér's V — the EFFECT SIZE for the event_type × cohort table
# (events_chi2_independence answers "is there dependence"; V answers
# "does it matter": χ²-significant ≠ large on big n, the classic
# big-data stats trap). V = sqrt(χ² / (n·min(r−1, c−1))); χ² cells
# micro-quantize from exact integers (the chi2 discipline), the
# final sqrt is one mirrored double.


_CRAMER_SQL = """
    WITH b AS (
      SELECT event_type, user_id % 2 AS cohort FROM events),
    cell AS (
      SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS o
      FROM b GROUP BY 1, 2),
    m AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT event_type) AS BIGINT) AS r,
             CAST(count(DISTINCT cohort) AS BIGINT) AS c
      FROM cell),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS ro FROM cell GROUP BY 1),
    ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS co FROM cell GROUP BY 1),
    terms AS (
      SELECT CAST(floor(
               (CAST(cell.o AS DOUBLE)
                - CAST(rt.ro AS DOUBLE) * ct.co / m.n)
               * (CAST(cell.o AS DOUBLE)
                  - CAST(rt.ro AS DOUBLE) * ct.co / m.n)
               / (CAST(rt.ro AS DOUBLE) * ct.co / m.n) * 1000000 + 0.5)
               AS BIGINT) AS chi_micro,
             m.n, m.r, m.c
      FROM cell JOIN rt ON cell.event_type = rt.event_type
      JOIN ct ON cell.cohort = ct.cohort CROSS JOIN m)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(chi_micro) AS BIGINT) AS chi2_micro,
           CAST(floor(sqrt(CAST(sum(chi_micro) AS DOUBLE) / 1000000.0
                           / (CAST(max(n) AS DOUBLE)
                              * least(max(r) - 1, max(c) - 1)))
                      * 1000000 + 0.5) AS BIGINT) AS cramers_v_micro
    FROM terms
    """


@register("agg_cramers_v", oracle=_CRAMER_SQL, tags=("agg", "stats"))
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for event_type × cohort (micro integer).

    Shapes: one contingency aggregate (map-side combined, |types|·2
    cells), marginals derived from the cell frame (never a second
    fact scan), broadcast everywhere; per-cell χ² contributions
    micro-quantize before the bigint sum; one mirrored sqrt at the
    end."""
    ev = table(spark, sf_dir, "events")
    cell = ev.select(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    ).groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    m = cell.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("cohort").cast("bigint").alias("c"),
    )
    rt = cell.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("ro"))
    ct = cell.groupBy("cohort").agg(F.sum("o").cast("bigint").alias("co"))
    e = "CAST(ro AS DOUBLE) * co / n"
    terms = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(m))
        .select(
            F.expr(
                f"CAST(floor((CAST(o AS DOUBLE) - {e}) * (CAST(o AS DOUBLE) - {e})"
                f" / ({e}) * 1000000 + 0.5) AS BIGINT)"
            ).alias("chi_micro"),
            "n",
            "r",
            "c",
        )
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("chi_micro").cast("bigint").alias("chi2_micro"),
        F.expr(
            "CAST(floor(sqrt(CAST(sum(chi_micro) AS DOUBLE) / 1000000.0"
            " / (CAST(max(n) AS DOUBLE) * least(max(r) - 1, max(c) - 1)))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("cramers_v_micro"),
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


# --- full-range sketch keys with error-bound FULL oracles --------------------
#
# r6 ADVICE item 2: agg_approx_distinct / agg_approx_quantile pin their
# equality oracles by running the sketches in an exact regime (bounded
# key domain / accuracy >> group size), so the benchmark no longer
# measured real sketch ESTIMATION. These two keys restore that: the
# sketch runs at a PRODUCTION setting over the full-range column, and
# the plan itself verifies the published error bound, returning a
# boolean the oracle states as literal TRUE. The hash check is then a
# genuine cross-engine assertion ("the estimate met its bound on this
# data") while the estimate itself is free to be approximate. The
# in-plan exact yardstick (countDistinct / the rank-count pass) exists
# only because the driver compares final frames — the production query
# is the sketch aggregate alone (the sibling keys' plan shape).

_HLL_LGK_PROD = 14  # ~0.8% relative standard error; bound below is 5% (~6 sigma)


@register(
    "agg_approx_distinct_fullrange",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           TRUE AS est_within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_approx_distinct_fullrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL cardinality estimate over the FULL-RANGE
    o_custkey at a production sketch size (lgConfigK=14, ~0.8% RSE),
    asserted against a 5% relative-error bound in-plan. The boolean is
    robust to regeneration and to partial-merge order: the HLL state is
    a set-function of the hashed values (order-insensitive), and the
    bound has ~6-sigma headroom. Estimation-regime behavior is further
    error-bounded in tests/test_approx_accuracy.py."""
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_custs"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("o_custkey"), F.lit(_HLL_LGK_PROD))
        ).alias("_est"),
    )
    err = F.abs(F.col("_est") - F.col("exact_custs"))
    return g.select(
        "o_orderstatus",
        "exact_custs",
        (err <= F.col("exact_custs") * F.lit(0.05)).alias("est_within_5pct"),
    )


_GK_ACCURACY_PROD = 2000  # rank error <= n/2000, fixed sketch memory


@register(
    "agg_approx_quantile_fullrange",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           TRUE AS qty_rank_ok, TRUE AS price_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "quantile", "sketch"),
)
def agg_approx_quantile_fullrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile at the PRODUCTION accuracy (2000: fixed-size
    mergeable GK summary, rank error <= n/2000 — the O(1)-memory
    regime agg_approx_quantile's exact-at-test-SF setting deliberately
    leaves), verified in-plan against the published rank guarantee:
    the returned median m must satisfy cnt_lt(m) <= n/2 + eps*n and
    cnt_le(m) >= n/2 - eps*n (the tie-aware two-sided rank check, +1
    slack for rank conventions). The check needs a second scan with m
    known — the 3-row estimate frame broadcast-joins back onto
    lineitem; a production query runs the first aggregate alone. The
    boolean holds for ANY partial-merge order because the GK invariant
    does, so the key is hash-stable while genuinely approximate."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    acc = F.lit(_GK_ACCURACY_PROD)
    est = l.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), acc).alias("qe"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), acc).alias("pe"),
    )
    j = l.join(F.broadcast(est), "l_returnflag")
    g = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_quantity") < F.col("qe"), 1).otherwise(0)).alias("qlt"),
        F.sum(F.when(F.col("l_quantity") <= F.col("qe"), 1).otherwise(0)).alias("qle"),
        F.sum(F.when(F.col("l_extendedprice") < F.col("pe"), 1).otherwise(0)).alias(
            "plt"
        ),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("pe"), 1).otherwise(0)).alias(
            "ple"
        ),
    )
    half = F.col("n") / F.lit(2.0)
    slack = F.col("n") / F.lit(float(_GK_ACCURACY_PROD)) + F.lit(1.0)
    return g.select(
        "l_returnflag",
        "n",
        (
            (F.col("qlt") <= half + slack) & (F.col("qle") >= half - slack)
        ).alias("qty_rank_ok"),
        (
            (F.col("plt") <= half + slack) & (F.col("ple") >= half - slack)
        ).alias("price_rank_ok"),
    )
