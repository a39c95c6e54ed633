"""Data-quality plans (dq_*) and table profiling (profile_table): rule
checks, referential integrity, freshness, distribution drift, IQR
outlier fences, k-anonymity, score calibration, table diffs and
per-column profiles — the screens a pipeline runs before trusting a
batch.

Determinism: rates are ppm integers (bigint DIV in Spark, // in
DuckDB); percentiles are discrete picked elements; float statistics
are micro-quantized before any cross-row accumulation, so every check
carries a full DuckDB hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table, views
from etl_cnpjs_spark.plans.registry import register


@register(
    "profile_table",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_totalprice,
             nullif(o_orderpriority, '1-URGENT') AS prio
      FROM orders)
    SELECT CAST(count(*) AS BIGINT)                  AS n_rows,
           CAST(count(prio) AS BIGINT)               AS prio_filled,
           CAST(count(*) - count(prio) AS BIGINT)    AS prio_nulls,
           (count(*) - count(prio)) / count(*)       AS prio_null_rate,
           CAST(count(DISTINCT prio) AS BIGINT)      AS prio_distinct,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS key_distinct
    FROM s
    """,
    tags=("profile", "qa"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling / reconciliation aggregate — the readme's manual QA
    (`readme.md:140-145`: count parity, null/inconsistency checks) as one
    engine pass: row count, per-column filled/null counts, null rate,
    distinct cardinalities. `nullif` derives a genuinely nullable column
    so the null arithmetic is exercised. One job, no joins; at 100 TB
    swap exact distincts for approx_count_distinct."""
    o = table(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio"),
    )
    n, filled = F.count(F.lit(1)), F.count("prio")
    return s.agg(
        n.alias("n_rows"),
        filled.alias("prio_filled"),
        (n - filled).alias("prio_nulls"),
        ((n - filled) / n).alias("prio_null_rate"),
        F.count_distinct("prio").alias("prio_distinct"),
        F.count_distinct("o_orderkey").alias("key_distinct"),
    )


# --- dq_check --------------------------------------------------------------


@register(
    "dq_check",
    oracle="""
    SELECT 'orders_key_unique' AS rule,
           CAST((SELECT count(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey
              HAVING count(*) > 1)) AS BIGINT)             AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT)   AS n_checked
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'quantity_in_1_50',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orderdate_not_null',
           CAST((SELECT count(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'price_non_negative',
           CAST((SELECT count(*) FROM lineitem WHERE l_extendedprice < 0) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
    tags=("qa", "dq", "constraints"),
)
def dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate — the constraint checks the
    reference's readme names as manual QA (orphan counts, load
    reconciliation, readme.md:140-145) run as ONE engine job:
    uniqueness (key groupBy, violations = keys seen twice),
    referential integrity (left-anti orphan count — the check form of
    the flagship's orphan-DROPPING inner joins), range and null rules
    (scan-side conditional aggregates). Output is one (rule,
    n_violations, n_checked) row per rule — the contract a pipeline
    asserts on before publishing a load.

    Scale shape: the three lineitem rules share one scan (a single
    multi-conditional aggregate); uniqueness shuffles only keys;
    the FK check is a left-anti join on the orderkey — at 100 TB AQE
    picks broadcast/shuffle by dim size, and a bloom-filter prejoin
    (tests/test_plans.py pins the rule) screens the fact side. A
    violation count of zero on every rule is the EXPECTED testdata
    state — the rules still execute their full plans."""
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH dup AS (
          SELECT CAST(count(1) AS BIGINT) AS v FROM (
            SELECT o_orderkey, count(1) AS c FROM {v['orders']} GROUP BY o_orderkey)
          WHERE c > 1),
        n_orders AS (
          SELECT CAST(count(1) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS null_dates
          FROM {v['orders']}),
        orphans AS (
          SELECT CAST(count(1) AS BIGINT) AS v
          FROM {v['lineitem']} li
          LEFT ANTI JOIN (SELECT o_orderkey FROM {v['orders']}) o
            ON li.l_orderkey = o.o_orderkey),
        li_stats AS (
          SELECT CAST(count(1) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
                   AS BIGINT) AS qty_bad,
                 CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS neg_price
          FROM {v['lineitem']})
        SELECT /*+ BROADCAST(n1) */ 'orders_key_unique' AS rule,
               dup.v AS n_violations, n1.n AS n_checked
        FROM dup CROSS JOIN (SELECT n FROM n_orders) n1
        UNION ALL
        SELECT /*+ BROADCAST(n2) */ 'lineitem_fk_orders', orphans.v, n2.n
        FROM orphans CROSS JOIN (SELECT n FROM li_stats) n2
        UNION ALL
        SELECT 'quantity_in_1_50', qty_bad, n FROM li_stats
        UNION ALL
        SELECT 'orderdate_not_null', null_dates, n FROM n_orders
        UNION ALL
        SELECT 'price_non_negative', neg_price, n FROM li_stats
        """
    )


# --- dq_drift ---------------------------------------------------------------
#
# Distribution drift between two time windows of the same stream — the
# data-quality gate a training pipeline runs before admitting a new
# snapshot (did the event mix shift?). Chi-square decomposition per
# category (not PSI: PSI needs ln(), a libm sharp edge — NOTES.md #6;
# the chi-square statistic is one exact-input double expression).

_DRIFT_SPLIT = "2024-01-16 00:00:00"


def _chi2_sql(c: str, e: str) -> str:
    return f"((CAST({c} AS DOUBLE) - {e}) * (CAST({c} AS DOUBLE) - {e}) / {e})"


@register(
    "dq_drift",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE ts <  TIMESTAMP '{_DRIFT_SPLIT}') AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT}') AS BIGINT) AS c2
      FROM events GROUP BY 1),
    t AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c2) AS BIGINT) AS t2 FROM c),
    e AS (
      SELECT c.event_type, c.c1, c.c2, t.t1, t.t2,
             CAST(c.c1 + c.c2 AS DOUBLE) * t.t1 / (t.t1 + t.t2) AS e1,
             CAST(c.c1 + c.c2 AS DOUBLE) * t.t2 / (t.t1 + t.t2) AS e2
      FROM c, t)
    SELECT event_type, c1, c2,
           c1 * 1000000 // t1 AS rate1_ppm,
           c2 * 1000000 // t2 AS rate2_ppm,
           CAST(floor(({_chi2_sql('c1', 'e1')} + {_chi2_sql('c2', 'e2')})
                      * 1e6 + 0.5) AS BIGINT) AS chi2_micro
    FROM e
    """,
    tags=("dq", "stats", "drift"),
)
def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two halves of the event stream:
    per event type, both window counts, both rates (bigint-DIV ppm),
    and the type's chi-square contribution in micro-units — the DQ gate
    that catches a shifted event mix before a bad snapshot trains a
    model. Per-category decomposition (no cross-category float sum →
    no accumulation-order divergence); the total statistic is the exact
    bigint sum of chi2_micro, which either engine can take downstream.

    Float portability: chi-square needs only *, /, - on exact bigint
    inputs — one fixed-shape double expression, identical in both
    engines — where PSI/KL would need ln() (libm-divergent, NOTES #6).
    Micro-quantization (floor(x*1e6+0.5) as BIGINT) makes the output
    integer-exact.

    Scale story: one map-side-combined conditional aggregate over the
    scan (counts per type × window), then everything is alphabet-sized:
    the totals ride a broadcast 1-row frame. No shuffle of events
    beyond the partial-agg combine."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    c = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") < split, 1)).cast("bigint").alias("c1"),
        F.count(F.when(F.col("ts") >= split, 1)).cast("bigint").alias("c2"),
    )
    t = c.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    e = c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "c1",
        "c2",
        "t1",
        "t2",
        (
            (F.col("c1") + F.col("c2")).cast("double")
            * F.col("t1")
            / (F.col("t1") + F.col("t2"))
        ).alias("e1"),
        (
            (F.col("c1") + F.col("c2")).cast("double")
            * F.col("t2")
            / (F.col("t1") + F.col("t2"))
        ).alias("e2"),
    )

    def chi2(cc: str, ee: str):
        d = F.col(cc).cast("double") - F.col(ee)
        return d * d / F.col(ee)

    return e.select(
        "event_type",
        "c1",
        "c2",
        F.expr("c1 * 1000000 DIV t1").alias("rate1_ppm"),
        F.expr("c2 * 1000000 DIV t2").alias("rate2_ppm"),
        F.floor((chi2("c1", "e1") + chi2("c2", "e2")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("chi2_micro"),
    )


# --- dq_outlier_iqr ---------------------------------------------------------
#
# Tukey-fence outlier screen per event type: Q1/Q3 as DISCRETE picked
# elements (percentile_disc ≡ quantile_disc, the events_conversion_lag
# sharp edge), fences at 1.5×IQR, and counts either side. Complements
# events_anomaly_mad (median/MAD robust z) with the boxplot-standard
# rule auditors expect.


_IQR_SQL = """
    WITH q AS (
      SELECT event_type,
             quantile_disc(value, 0.25) AS q1,
             quantile_disc(value, 0.75) AS q3
      FROM events GROUP BY 1)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(q.q1) AS q1,
           min(q.q3) AS q3,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low,
           CAST(sum(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY 1
    """


@register("dq_outlier_iqr", oracle=_IQR_SQL, tags=("dq", "stats"))
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR (Tukey-fence) outlier counts per event type.

    Determinism: Q1/Q3 are picked elements (exact parquet doubles);
    the fence arithmetic q1 − 1.5·(q3 − q1) is the same three
    correctly-rounded double ops in both engines, so the comparison
    set is identical. Shapes: per-type discrete percentile (sort-agg
    over the type's values), then the fence count re-scans with the
    tiny quantile frame BROADCAST — two passes, one broadcast, no
    big-side shuffle for the second pass at 100 TB."""
    ev = table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("q1").alias("q1"),
        F.min("q3").alias("q3"),
        F.sum(F.when(F.col("value") < lo, 1).otherwise(0)).cast("bigint").alias(
            "n_out_low"
        ),
        F.sum(F.when(F.col("value") > hi, 1).otherwise(0)).cast("bigint").alias(
            "n_out_high"
        ),
    )


# --- dq_referential ---------------------------------------------------------
#
# Referential-integrity report: orphan counts for every FK edge of the
# star schema in ONE frame — the readme QA items the reference checks
# by hand (readme.md:140-145: orphaned estabelecimentos/CNAEs), done
# engine-side as anti-join counts. Completes the DQ family
# (dq_check/dq_drift/dq_outlier_iqr) with the classic RI audit.


_RI_SQL = """
    SELECT 'orders->customer' AS fk_edge,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN oo.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders oo ON l.l_orderkey = oo.o_orderkey
    UNION ALL
    SELECT 'lineitem->part',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'supplier->nation',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """


@register("dq_referential", oracle=_RI_SQL, tags=("dq",))
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts per FK edge (child rows with no parent).

    Shapes: each edge is a left join AGGREGATED TO TWO NUMBERS —
    Catalyst keeps the parent side broadcast where small (customer/
    part/nation); the lineitem→orders edge is the one genuine big-big
    join and shares the bucketed-layout answer join_bucketed proves.
    The four edges union into one 4-row report frame."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey")
    su = table(spark, sf_dir, "supplier").select("s_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey")

    def edge(name, child, parent, ck, pk):
        j = child.join(parent, child[ck] == parent[pk], "left")
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.when(parent[pk].isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        ).select("fk_edge", "n_child", "n_orphans")

    return (
        edge("orders->customer", o, c, "o_custkey", "c_custkey")
        .unionAll(edge("lineitem->orders", li, o.select("o_orderkey"), "l_orderkey", "o_orderkey"))
        .unionAll(edge("lineitem->part", li, p, "l_partkey", "p_partkey"))
        .unionAll(edge("supplier->nation", su, na, "s_nationkey", "n_nationkey"))
    )


# --- dq_freshness -----------------------------------------------------------
#
# Per-partition staleness report: for each event_type, the newest
# event vs the corpus watermark, in seconds, plus a stale flag at 24 h
# — the "did source X stop delivering" check every scheduled pipeline
# fronts its SLAs with (complements dq_check's value rules and
# events_gap_detect's intra-series holes).

_FRESH_STALE_S = 86400


_FRESH_SQL = f"""
    WITH mx AS (SELECT max(ts) AS wm FROM events),
    p AS (
      SELECT event_type, max(ts) AS newest, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1)
    SELECT p.event_type, CAST(floor(epoch(p.newest)) AS BIGINT) AS newest_epoch_s,
           CAST(floor(epoch(mx.wm)) - floor(epoch(p.newest)) AS BIGINT) AS lag_s,
           CAST(CASE WHEN floor(epoch(mx.wm)) - floor(epoch(p.newest))
                          > {_FRESH_STALE_S}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_stale,
           p.n_events
    FROM p, mx
    """


@register("dq_freshness", oracle=_FRESH_SQL, tags=("dq", "events"))
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness lag per event_type vs the corpus watermark (epoch
    seconds, integer).

    Shapes: one map-side-combined groupBy on event_type (cardinality ≈
    a handful) and a 1-row broadcast for the watermark; at 100 TB this
    reads the partition column's metadata path (max(ts) per partition
    prunes to footer stats under a ts-partitioned layout —
    sink_partitioned is the writer counterpart)."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("wm"))
    p = ev.groupBy("event_type").agg(
        F.max("ts").alias("newest"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    out = p.crossJoin(F.broadcast(mx))
    lag = F.unix_timestamp("wm") - F.unix_timestamp("newest")
    return out.select(
        "event_type",
        F.unix_timestamp("newest").cast("bigint").alias("newest_epoch_s"),
        lag.cast("bigint").alias("lag_s"),
        F.when(lag > _FRESH_STALE_S, 1).otherwise(0).cast("bigint").alias(
            "is_stale"
        ),
        "n_events",
    )


# --- dq_table_diff ----------------------------------------------------------
#
# Table diff (the data-diff / reconciliation tool): compare two
# snapshots of a table and classify every key as ADDED / REMOVED /
# CHANGED / UNCHANGED with per-class counts — the check that runs
# after every backfill or migration ("did the rewrite change anything
# it shouldn't have"). v2 is derived deterministically from orders:
# %13 keys dropped, %7 keys repriced, a re-keyed %11 slice added.


_TDIFF_SQL = """
    WITH v1 AS (
      SELECT o_orderkey AS key,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    v2 AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END
               AS cents
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      FROM orders WHERE o_orderkey % 11 = 0),
    j AS (
      SELECT coalesce(a.key, b.key) AS key, a.cents AS c1, b.cents AS c2
      FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key)
    SELECT CASE WHEN c1 IS NULL THEN 'added'
                WHEN c2 IS NULL THEN 'removed'
                WHEN c1 <> c2 THEN 'changed'
                ELSE 'unchanged' END AS class,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(coalesce(sum(c2 - c1), 0) AS BIGINT) AS cents_delta
    FROM j GROUP BY 1
    """


@register("dq_table_diff", oracle=_TDIFF_SQL, tags=("dq", "cdc"))
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff report: added/removed/changed/unchanged counts
    and the net value delta (integer cents).

    Shapes: ONE full-outer join on the key (both sides shuffle once —
    at 100 TB this is the one unavoidable co-partition; bucketed
    snapshots make it exchange-free, join_bucketed's layout), then a
    4-row classification rollup. Column-level diffs extend the CASE,
    not the join. The value delta doubles as the reconciliation
    total (Σ changed must explain the ledger move)."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    v1 = o.select(F.col("o_orderkey").alias("key"), cents.alias("c1"))
    v2a = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 7 == 0, cents + 1).otherwise(cents).alias(
            "c2"
        ),
    )
    v2b = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("key"), cents.alias("c2")
    )
    v2 = v2a.unionAll(v2b)
    j = v1.join(v2, "key", "full_outer")
    cls = (
        F.when(F.col("c1").isNull(), "added")
        .when(F.col("c2").isNull(), "removed")
        .when(F.col("c1") != F.col("c2"), "changed")
        .otherwise("unchanged")
    )
    return j.select(cls.alias("class"), "c1", "c2").groupBy("class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.coalesce(F.sum(F.col("c2") - F.col("c1")), F.lit(0))
        .cast("bigint")
        .alias("cents_delta"),
    )


# --- dq_k_anonymity ---------------------------------------------------------
#
# k-anonymity audit over quasi-identifiers: for the (nation, market
# segment) QI tuple, the equivalence-class size distribution and the
# share of customers in classes below k = 5 — the privacy screen
# a governed dataset runs before release (small classes re-identify).
# Pure integer counts.

_KANON_K = 5


_KANON_SQL = f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2),
    t AS (
      SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(min(class_size) AS BIGINT) AS min_class,
             CAST(sum(CASE WHEN class_size < {_KANON_K}
                           THEN class_size ELSE 0 END) AS BIGINT) AS n_at_risk
      FROM qi)
    SELECT n_rows, n_classes, min_class, n_at_risk,
           CAST(n_at_risk * 1000000 // n_rows AS BIGINT) AS at_risk_ppm,
           CAST(CASE WHEN min_class >= {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS is_k_anonymous
    FROM t
    """


@register("dq_k_anonymity", oracle=_KANON_SQL, tags=("dq",))
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity report for the (nation, segment) QI tuple
    (k = 5; integer).

    Shapes: one map-side-combined QI aggregate (|nations|·|segments|
    classes), one 1-row rollup. Generalization ladders (coarsen the
    QI until k holds) re-run THIS plan per rung — the audit is the
    inner loop, which is why it must stay one exchange."""
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    t = qi.agg(
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class"),
        F.sum(
            F.when(F.col("class_size") < _KANON_K, F.col("class_size")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    return t.select(
        "n_rows",
        "n_classes",
        "min_class",
        "n_at_risk",
        F.expr("n_at_risk * 1000000 DIV n_rows").cast("bigint").alias(
            "at_risk_ppm"
        ),
        F.when(F.col("min_class") >= _KANON_K, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_k_anonymous"),
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
