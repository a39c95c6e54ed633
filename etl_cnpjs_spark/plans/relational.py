"""Relational plans: the flagship star query and the operator families the
reference either has (scan/project/filter/join, SURVEY.md §2.1) or
delegates to SQLite and we surface explicitly — filters, projections,
sorts, set operations, reshapes (pivot/unpivot/transpose), SQL-only
forms (subqueries, lateral joins, recursive CTEs, pipe syntax), every
join shape (equi, outer, semi/anti, as-of, interval, range, spatial,
bucketed, salted, Bloom-prefiltered) and window functions (ranking,
offsets, running/rolling frames, percentiles, EWMA).

Flagship analog (SURVEY.md §7.1 M1): QUERY_FINAL
(ETLCNPJFinalEmpresaEstabelecimentos.py:191-234) is
π₂₀(σ(IN×3)(fact ⋈ dim ⋈ dim ⋈ dim ⋈ dim)). On the testdata star schema:
fact = lineitem; dims = orders, customer, nation, region; the three
conjunctive IN-lists land on n_nationkey / o_orderstatus / l_partkey
mirroring municipio / situação / CNAE (etl.py:224-233). The CNAE list's
duplicate-literal quirk (53 literals, 50 distinct — IN dedups) is
reproduced in PART_KEYS_LITERALS.

Determinism: every window/top-k ordering carries a unique-key
tiebreaker; time arithmetic stays in bigint microseconds; double sums go
through decimal accumulation per the registry convention.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table, views
from etl_cnpjs_spark.operators.relational import (
    dedup_keep_latest,
    filter_in_lists,
    interval_overlap_join,
    join_asof,
    point_in_interval_join,
    top_k,
)
from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS, _exact_pairs
from etl_cnpjs_spark.plans.events import _SQL_SCD2, cdc_scd2
from etl_cnpjs_spark.plans.io import write_bucketed
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register
from etl_cnpjs_spark.plans.text import _BENCH_MOD
from etl_cnpjs_spark.staging import session_tmpdir, staged


# --- flagship filter literals (mirroring etl.py:223-233) -------------------
# 3 nation keys ~ the 3 municípios (etl.py:224)
NATION_KEYS = [3, 7, 19]
# 2 order statuses ~ the 3 situação codes (etl.py:225)
ORDER_STATUSES = ["F", "P"]
# 53 literals, 50 distinct ~ the CNAE IN-list quirk (etl.py:226-233):
# IN has set semantics, duplicates change nothing.
PART_KEYS = list(range(1, 200, 4))  # 50 distinct, present at every sf
PART_KEYS_LITERALS = PART_KEYS + [1, 5, 9]

_FLAGSHIP_COLS = [
    # fact side first — mirrors projecting e.cnpj_basico from the fact even
    # though the join also binds emp.cnpj_basico (SURVEY.md §2.3)
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
    "c_name",
    "c_acctbal",
    "c_mktsegment",
    "n_name",
    "r_name",
]


@register(
    "flagship",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
           l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
           l.l_returnflag, l.l_linestatus, l.l_shipdate,
           o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority,
           c.c_name, c.c_acctbal, c.c_mktsegment, n.n_name, r.r_name
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE n.n_nationkey IN ({','.join(str(k) for k in NATION_KEYS)})
      AND o.o_orderstatus IN ('F','P')
      AND l.l_partkey IN ({','.join(str(k) for k in PART_KEYS_LITERALS)})
    """,
    tags=("reference", "join", "filter", "projection"),
)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-col star-join prospecting query — QUERY_FINAL's exact shape,
    and like QUERY_FINAL one SQL statement over the session views.

    Physical plan at scale: lineitem⋈orders is the one big-big join
    (shuffle, AQE-managed — the empresas⋈estabelecimentos analog);
    customer is mid-sized (AQE promotes to broadcast when small);
    nation/region are bounded dims → always broadcast by hint, replacing
    the reference's secondary-index nested loops (etl.py:176-182). The
    three IN-lists push down to the parquet scans.
    """
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(n, r) */ {', '.join(_FLAGSHIP_COLS)}
        FROM {v['lineitem']} l
        JOIN {v['orders']} o   ON l_orderkey = o_orderkey
        JOIN {v['customer']} c ON o_custkey = c_custkey
        JOIN {v['nation']} n   ON c_nationkey = n_nationkey
        JOIN {v['region']} r   ON n_regionkey = r_regionkey
        WHERE l_partkey IN ({','.join(map(str, PART_KEYS_LITERALS))})
          AND o_orderstatus IN ({','.join(f"'{s}'" for s in ORDER_STATUSES)})
          AND n_nationkey IN ({','.join(map(str, NATION_KEYS))})
        """
    )


# --- projection (O13) ------------------------------------------------------


@register(
    "project_alias",
    oracle="""
    SELECT o_orderkey AS order_id, o_orderstatus AS status,
           o_totalprice AS total_price, o_orderpriority AS priority
    FROM orders
    """,
    tags=("reference", "projection"),
)
def project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aliased projection (etl.py:192-212). Catalyst prunes the scan to
    exactly these columns (ReadSchema shows 4 of 6)."""
    return table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderpriority").alias("priority"),
    )


# --- filters (O15 + null/range variants) -----------------------------------


@register(
    "filter_in_list",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    WHERE c_nationkey IN (1,4,9,16,9) AND c_mktsegment IN ('BUILDING','MACHINERY')
    """,
    tags=("reference", "filter"),
)
def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive IN-lists with a duplicate literal (set semantics,
    etl.py:226-233). Pushed to the parquet scan as In predicates."""
    return filter_in_lists(
        table(spark, sf_dir, "customer"),
        {"c_nationkey": [1, 4, 9, 16, 9], "c_mktsegment": ["BUILDING", "MACHINERY"]},
    ).select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


@register(
    "filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    """,
    tags=("filter",),
)
def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicates — pushdown-friendly (parquet min/max pruning)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "filter_null",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
    """,
    tags=("filter",),
)
def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-sensitive predicates — the CNPJ data is null-heavy
    (SURVEY.md §7.3 item 4)."""
    d = table(spark, sf_dir, "documents")
    return d.filter(F.col("lang").isNotNull() & F.col("source").isNotNull()).select(
        "doc_id", "lang", "source"
    )


# --- joins (O14 + semi/anti/left/range) ------------------------------------


@register(
    "join_inner_equi",
    oracle="""
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name, r.r_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("reference", "join"),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain onto bounded dims → broadcast-hash both."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name", "r_name")
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-preserving variant of O14 — the reference's inner joins drop
    orphans silently (PRAGMA foreign_keys=OFF, etl.py:169)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one big order. Semi joins
    never duplicate the left side — no fanout, no post-distinct."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: the orphan check the reference's readme describes as
    manual QA (readme.md:140-145), as one operator."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_range",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    """,
    tags=("join",),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key + range residual (theta) join: late shipments. The equi key
    keeps it a hash/sort-merge join with the range as residual — never a
    cartesian product (the scalable formulation of a theta join)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
    ).select("o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


@register(
    "join_asof",
    oracle="""
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, o_orderkey FROM (
        SELECT o_custkey, o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           o.o_orderkey  AS matched_o_orderkey,
           o.o_orderdate AS matched_o_orderdate
    FROM events e
    ASOF JOIN o1 o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("join", "asof"),
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the customer's most recent order at
    event time. Right side pre-deduped per (custkey, orderdate) for a
    deterministic payload. Spark side is the union-merge formulation
    (operators/relational.py::join_asof — one shuffle, no history fanout);
    oracle uses DuckDB's native ASOF JOIN — same semantics, two engines,
    two completely different physical strategies."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    o1 = dedup_keep_latest(orders, ["o_custkey", "o_orderdate"], [F.desc("o_orderkey")])
    return join_asof(
        ev, o1,
        left_key="user_id", right_key="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey", "o_orderdate"],
    )


# --- aggregations ----------------------------------------------------------
# Double sums go through DECIMAL accumulation: exact, order-insensitive,
# bit-identical across Spark and DuckDB (a double sum is partition-order
# dependent). Cast back to double so both schemas agree.

_DEC = "decimal(27,6)"


# --- windows ---------------------------------------------------------------


@register(
    "window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    tags=("window",),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Total order (price desc, key asc) →
    deterministic. One shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS {_DEC})) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
    tags=("window",),
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend — decimal accumulation keeps the prefix
    sums exact and engine-identical."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order
    FROM orders
    """,
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor access within an ordered partition."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


# --- sorts / limits --------------------------------------------------------


@register(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    tags=("sort",),
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (per-partition heaps, k-row
    driver merge — no full sort/shuffle). Unique tiebreaker (o_orderkey)
    makes the cut deterministic."""
    return top_k(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        25,
    )


# --- set ops ---------------------------------------------------------------


@register(
    "set_union",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 250000
    """,
    tags=("setop",),
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — the explicit form of the reference's multi-shard append
    load (etl.py:171, if_exists='append'). No shuffle at all."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    a = o.filter(F.col("o_orderstatus") == "F")
    b = o.filter(F.col("o_totalprice") > 250000)
    return a.select("o_orderkey", "o_custkey").unionAll(b.select("o_orderkey", "o_custkey"))


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers with both F and O
    orders."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — F-only customers. ``subtract`` is
    Spark's EXCEPT DISTINCT (a left-anti join on all columns underneath)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.subtract(b)


_ASOF_TOL_US = 24 * 3600 * 1_000_000  # 24 hours in microseconds


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') t
      WHERE rn = 1
    ), j AS (
      SELECT e.event_id, e.user_id, e.ts, e.event_type,
             p.event_id AS p_id, p.ts AS p_ts
      FROM events e
      ASOF JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    )
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(p_ts) <= {_ASOF_TOL_US}
                THEN p_id END AS last_purchase_id,
           CASE WHEN epoch_us(ts) - epoch_us(p_ts) <= {_ASOF_TOL_US}
                THEN p_ts END AS last_purchase_ts,
           (epoch_us(ts) - epoch_us(p_ts) > {_ASOF_TOL_US}) AS stale
    FROM j
    """,
    tags=("join", "asof", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness tolerance (pandas
    merge_asof(tolerance=...) semantics): each event looks up the same
    user's most recent prior PURCHASE, but only if it happened within
    the last 24 hours — older matches are nulled and FLAGGED stale
    rather than silently joined, the guard a feature-store
    point-in-time lookup needs so an old attribute never leaks into a
    training row as if fresh (the 24 h bound splits this corpus
    roughly in half, so both branches are exercised). Same
    single-shuffle union-merge asof underneath (inner form — only
    events with some prior purchase appear); the tolerance is a
    post-join integer-microsecond comparison, identical in both
    engines."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts0"),
        F.col("event_id").alias("p_id"),
    )
    p1 = dedup_keep_latest(p, ["p_user", "p_ts0"], [F.desc("p_id")])
    j = join_asof(
        ev, p1,
        left_key="user_id", right_key="p_user",
        left_time="ts", right_time="p_ts0",
        payload=["p_id", "p_ts0"],
    )
    age = F.unix_micros("ts") - F.unix_micros("matched_p_ts0")
    fresh = age <= _ASOF_TOL_US
    return j.select(
        "event_id", "user_id", "ts", "event_type",
        F.when(fresh, F.col("matched_p_id")).alias("last_purchase_id"),
        F.when(fresh, F.col("matched_p_ts0")).alias("last_purchase_ts"),
        (~fresh).alias("stale"),
    )


# --- join_interval_overlap -------------------------------------------------

_IVL_BIN = 16  # days per blocking bin; intervals here span ≤ 14 days → ≤ 2 bins


@register(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS a_id,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS a_start,
             date_diff('day', DATE '1992-01-01', o_orderdate)
               + 1 + o_orderkey % 14 AS a_end
      FROM orders WHERE o_orderkey % 251 = 0),
    b AS (
      SELECT DISTINCT l_orderkey * 10 + l_linenumber AS b_id,
             date_diff('day', DATE '1992-01-01', l_shipdate) AS b_start,
             date_diff('day', DATE '1992-01-01', l_shipdate)
               + 1 + l_linenumber AS b_end
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 7 = 0)
    SELECT DISTINCT a_id, b_id,
           CAST(least(a_end, b_end) - greatest(a_start, b_start) AS BIGINT)
             AS overlap_days
    FROM a JOIN b ON a_start < b_end AND b_start < a_end
    """,
    tags=("join", "interval"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join with NO equi key — the shape equi+range
    residual (join_range) can't express: order validity windows
    [start, start+1..14d) × shipment windows, pairs where the intervals
    intersect. Naive Spark plans this as a nested-loop cross product;
    the scalable form BLOCKS BOTH SIDES TO FIXED-WIDTH BINS (the
    Databricks range-join-hint technique, hand-built): each interval
    explodes to the {_IVL_BIN}-day bins it covers (≤ 2 here), the join
    becomes a bin equi-join with the overlap predicate as residual, and
    a distinct collapses double-matches from pairs sharing two bins.
    Work is Σ bin²-per-bucket — linear for bounded interval length,
    never |A|×|B|. All arithmetic in integer epoch days, so the oracle
    (the naive overlap join, fine at oracle scale) is bit-exact.
    tests/test_plans.py pins the no-cartesian claim."""
    epoch = F.lit("1992-01-01").cast("date")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 251 == 0)
    a = o.select(
        F.col("o_orderkey").alias("a_id"),
        F.datediff(F.col("o_orderdate"), epoch).alias("a_start"),
        (
            F.datediff(F.col("o_orderdate"), epoch)
            + 1
            + F.col("o_orderkey") % 14
        ).alias("a_end"),
    )
    li = table(spark, sf_dir, "lineitem").withColumn(
        "b_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    ).filter(F.col("b_id") % 7 == 0)
    # the testdata's lineitem repeats (orderkey, linenumber), so the
    # interval set is declared DISTINCT on both sides; output is the
    # distinct (a, b, overlap) set (bin double-matches collapse in the
    # same distinct)
    b = li.select(
        "b_id",
        F.datediff(F.col("l_shipdate"), epoch).alias("b_start"),
        (F.datediff(F.col("l_shipdate"), epoch) + 1 + F.col("l_linenumber")).alias(
            "b_end"
        ),
    ).distinct()

    return (
        interval_overlap_join(
            a, b, "a_start", "a_end", "b_start", "b_end", bin_width=_IVL_BIN
        )
        .select(
            "a_id",
            "b_id",
            (
                F.least(F.col("a_end"), F.col("b_end"))
                - F.greatest(F.col("a_start"), F.col("b_start"))
            ).cast("bigint").alias("overlap_days"),
        )
        .distinct()
    )


@register(
    "join_point_in_interval",
    oracle=f"""
    WITH iv AS (
      SELECT o_orderkey AS a_id,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS a_start,
             date_diff('day', DATE '1992-01-01', o_orderdate)
               + 1 + o_orderkey % 14 AS a_end
      FROM orders WHERE o_orderkey % 101 = 0),
    pt AS (
      SELECT DISTINCT l_orderkey * 10 + l_linenumber AS p_id,
             date_diff('day', DATE '1992-01-01', l_shipdate) AS p_day
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 13 = 0)
    SELECT p_id, a_id,
           CAST(p_day - a_start AS BIGINT) AS day_in_window
    FROM pt JOIN iv ON a_start <= p_day AND p_day < a_end
    """,
    tags=("join", "interval", "point"),
)
def join_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range lookup (shipment day → containing order-validity
    windows) via operators.relational.point_in_interval_join: the point
    side maps to its single bin with ONE integer projection (no explode,
    no row growth — the property that makes this the cheap half of the
    range-join family), only the ≤14-day interval side replicates to its
    ≤2 bins, and each pair meets in at most one bin so no distinct is
    needed. Oracle = the naive BETWEEN join. This is the physical shape
    of AS-OF reads, event→session attribution, and IP-range lookups at
    100 TB: points (the big side) shuffle once on the bin key at size
    |P|, never explode, never cross-join."""
    epoch = F.lit("1992-01-01").cast("date")
    iv = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        F.datediff(F.col("o_orderdate"), epoch).alias("a_start"),
        (
            F.datediff(F.col("o_orderdate"), epoch)
            + 1
            + F.col("o_orderkey") % 14
        ).alias("a_end"),
    )
    li = table(spark, sf_dir, "lineitem").withColumn(
        "p_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    ).filter(F.col("p_id") % 13 == 0)
    # the testdata's lineitem repeats (orderkey, linenumber) — declare a
    # DISTINCT point set (same convention as join_interval_overlap's b)
    pt = li.select(
        "p_id", F.datediff(F.col("l_shipdate"), epoch).alias("p_day")
    ).distinct()
    return point_in_interval_join(
        pt, iv, "p_day", "a_start", "a_end", bin_width=_IVL_BIN
    ).select(
        "p_id",
        "a_id",
        (F.col("p_day") - F.col("a_start")).cast("bigint").alias("day_in_window"),
    )


@register(
    "window_topk_group",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
      FROM lineitem) t
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def window_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per supplier by price — the per-group cap every
    training pipeline applies (max docs per domain/source). One shuffle on
    the group key; rank+filter prunes inside the sort, and AQE handles
    skewed groups. Total order via (price DESC, orderkey, linenumber)."""
    l = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        l.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of part's numeric metrics — the inverse of
    agg_pivot. Spark's native `unpivot` expands in-place (Expand node):
    no shuffle, output rows = rows × metrics."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "window_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT)  AS quartile,
           percent_rank() OVER w          AS pct_rank,
           cume_dist() OVER w             AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "rank"),
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles + percent_rank + cume_dist
    per priority class — the quality-score bucketing shape (split a
    corpus into quality quartiles per source). Total order via
    (totalprice, orderkey); the rank fractions are integer-derived
    divisions, bit-identical across engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pk,
                      o_totalprice
               FROM orders),
         d AS (SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS pk,
                      upper(coalesce(nullif(o_orderpriority, '1-URGENT'), 'urgent')) AS label
               FROM orders)
    SELECT o.o_orderkey, o.o_totalprice, d.label
    FROM o JOIN d ON o.pk IS NOT DISTINCT FROM d.pk
    """,
    tags=("join", "null_safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — exactly the join the
    reference's null-heavy CNPJ dims need when code columns are blank
    (a plain inner join erases those rows, SURVEY.md §1.2's orphan
    semantics). eqNullSafe keys still hash-partition normally; a
    NULL-heavy key is a skew key like any other (salt it)."""
    o_t = table(spark, sf_dir, "orders")
    o = o_t.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pk"),
        "o_totalprice",
    )
    d = (
        o_t.select(F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pk"))
        .distinct()
        .select("pk", F.upper(F.coalesce(F.col("pk"), F.lit("urgent"))).alias("label"))
    )
    return o.join(d, o.pk.eqNullSafe(d.pk)).select("o_orderkey", "o_totalprice", "label")


@register(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
    tags=("sql", "subquery"),
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — written as subqueries, executed
    as joins: Catalyst decorrelates them into left-semi and left-anti
    joins (tests/test_plans.py asserts both appear in the physical plan,
    no nested-loop re-execution per row). The rewrite IS the scale
    property: a naive correlated execution is O(rows × subquery)."""
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT c_custkey, c_name
        FROM {v['customer']} c
        WHERE EXISTS (SELECT 1 FROM {v['orders']} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM {v['orders']} o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT c_custkey,
           (SELECT max(o.o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE c_nationkey = 3
    """,
    tags=("sql", "subquery"),
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-customer max order value):
    Catalyst decorrelates to one aggregate over orders + a left outer
    join — the subquery runs ONCE, not per outer row. NULL for
    order-less customers survives the rewrite (outer join, not inner)."""
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT c_custkey,
               (SELECT max(o.o_totalprice) FROM {v['orders']} o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM {v['customer']} c
        WHERE c_nationkey = 3
        """
    )


@register(
    "join_full",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join", "outer"),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — preserves customers with no orders AND orders
    with no customer (none in conformant data, but load-time orphans are
    exactly what the reference's unenforced FKs admit, SURVEY.md §1.2).
    Full outer can't broadcast: sort-merge on the key, one shuffle each
    side — the worst-case join shape, here on purpose."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        "c_name",
        "o_orderkey",
        "o_totalprice",
    )


_RANGE_FRAME_US = 600_000_000  # 10 minutes in microseconds


@register(
    "window_range_frame",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT)                    AS cnt_10m,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w
                AS DOUBLE)                                    AS sum_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_RANGE_FRAME_US} PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range", "events"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, count and sum of events in the
    trailing 10 minutes up to and including each event — the per-row
    rolling-window shape (rate limiting, burst detection, trailing
    revenue) that a rows-based frame cannot express when events are
    unevenly spaced. Ordering on integer epoch-micros makes the frame
    bound exact integer arithmetic in both engines (ties = RANGE peers,
    identical semantics), and the double sum goes through DECIMAL
    accumulation per the registry rule. One shuffle on user_id, per-key
    sort within partitions — the same cost envelope as any window plan."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("cnt_10m"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_10m"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over the full-partition frame: decorate every
    order with its customer's first, latest, and second order — the
    first-touch-attribution shape. One shuffle + one sort; the unbounded
    frame makes Spark evaluate the whole-partition answer once and
    replicate it per row (no self-join, no second aggregate)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first_value(F.col("o_orderkey")).over(w).alias("first_order"),
        F.last_value(F.col("o_orderkey")).over(w).alias("last_order"),
        F.nth_value(F.col("o_orderkey"), 2).over(w).alias("second_order"),
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product — the grid-building shape (every region
    × every nation; in a pipeline: every model × every eval slice).
    Spark requires the explicit crossJoin() call precisely because the
    blowup is quadratic; at scale the small side must broadcast
    (BroadcastNestedLoopJoin) so only one side streams."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


@register(
    "sql_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
    tags=("sql", "lateral", "subquery"),
)
def sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per-customer top-2 orders written the
    way an analyst writes it. Catalyst DECORRELATES the per-row subquery
    into a relational plan (no nested-loop re-execution per customer) —
    same result as the window_topk_group formulation, different surface.
    Deterministic via the (o_totalprice, o_orderkey) total order."""
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {v['customer']} c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM {v['orders']} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


# --- window_percentiles ----------------------------------------------------


@register(
    "window_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
    tags=("window", "rank"),
)
def window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions: percent_rank ((rank-1)/(n-1))
    and cume_dist (rows ≤ current / n) per market segment — the
    percentile machinery behind 'top 1% customers' cuts. Both are
    tie-stable (equal keys share a value), so no tiebreaker column is
    needed for determinism, and both engines evaluate the same exact
    integer ratio in one double division. One shuffle on the partition
    key, per-partition sort — the standard window envelope."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# --- join_asof_nearest -------------------------------------------------------


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') t
      WHERE rn = 1),
    u AS (
      SELECT user_id, ts, 0 AS kind, event_id, NULL AS p_id
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, 1 AS kind, event_id, event_id AS p_id FROM p),
    w AS (
      SELECT user_id, ts, kind, event_id,
             last_value(CASE WHEN kind = 1 THEN ts END IGNORE NULLS)
               OVER wb AS back_ts,
             last_value(p_id IGNORE NULLS) OVER wb AS back_id,
             first_value(CASE WHEN kind = 1 THEN ts END IGNORE NULLS)
               OVER wf AS fwd_ts,
             first_value(p_id IGNORE NULLS) OVER wf AS fwd_id
      FROM u
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY ts, kind DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY ts, kind DESC, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
    SELECT event_id, user_id, ts,
           CASE WHEN fwd_ts IS NULL THEN back_id
                WHEN back_ts IS NULL THEN fwd_id
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_id
                ELSE fwd_id END AS near_p_id,
           CASE WHEN fwd_ts IS NULL THEN epoch_us(ts) - epoch_us(back_ts)
                WHEN back_ts IS NULL THEN epoch_us(fwd_ts) - epoch_us(ts)
                ELSE least(epoch_us(ts) - epoch_us(back_ts),
                           epoch_us(fwd_ts) - epoch_us(ts)) END AS near_diff_us
    FROM w WHERE kind = 0
    """,
    tags=("join", "asof", "timeseries"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each click pairs with its temporally CLOSEST
    purchase by the same user — before OR after — completing the as-of
    family (backward join_asof, tolerance join_asof_tolerance). Ties
    break toward the backward match; same-timestamp purchases dedup to
    max event_id first (join_asof_tolerance's rule).

    Scale story: the union-tag formulation, not a join — both streams
    union with a kind tag, ONE exchange on user_id, and two RUNNING
    window passes (backward last_value IGNORE NULLS to the current row;
    forward as last_value over the exactly-reversed sort ending one row
    before current — a (1, +inf) frame is Spark's quadratic shrinking
    class, see events_interpolate_linear) resolve both candidates; the
    same-ts containment rule is encoded purely in the sort key (ts,
    kind DESC, event_id), so a purchase at the click's exact timestamp
    sorts before it — visible backward, invisible forward, never double
    counted. No per-row probe join, no range join, state is one value
    per direction — this is the shape that survives a billion-event
    partition. Both engines run the identical window program."""
    # back_* is the running frame (to the current row); fwd_* is the
    # running frame over the exactly-reversed order, ending one row before
    # current ((1, +inf) frames are the quadratic shrinking-frame class —
    # see events_interpolate_linear)
    ev = views(spark, sf_dir)["events"]
    back_d = "unix_micros(ts) - unix_micros(back_ts)"
    fwd_d = "unix_micros(fwd_ts) - unix_micros(ts)"
    return spark.sql(
        f"""
        WITH p AS (
          SELECT user_id, ts, event_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM {ev} WHERE event_type = 'purchase')
          WHERE rn = 1),
        u AS (
          SELECT user_id, ts, 0 AS kind, event_id, CAST(NULL AS BIGINT) AS p_id
          FROM {ev} WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, ts, 1 AS kind, event_id, event_id AS p_id FROM p),
        w AS (
          SELECT user_id, ts, kind, event_id,
                 last(CASE WHEN kind = 1 THEN ts END, true) OVER wb AS back_ts,
                 last(p_id, true) OVER wb AS back_id,
                 last(CASE WHEN kind = 1 THEN ts END, true) OVER wfd AS fwd_ts,
                 last(p_id, true) OVER wfd AS fwd_id
          FROM u
          WINDOW
            wb AS (PARTITION BY user_id ORDER BY ts, kind DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wfd AS (PARTITION BY user_id ORDER BY ts DESC, kind, event_id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT event_id, user_id, ts,
               CASE WHEN fwd_ts IS NULL THEN back_id
                    WHEN back_ts IS NULL THEN fwd_id
                    WHEN {back_d} <= {fwd_d} THEN back_id
                    ELSE fwd_id END AS near_p_id,
               CASE WHEN fwd_ts IS NULL THEN {back_d}
                    WHEN back_ts IS NULL THEN {fwd_d}
                    ELSE least({back_d}, {fwd_d}) END AS near_diff_us
        FROM w WHERE kind = 0
        """
    )


# --- bag-semantics set operations -------------------------------------------
#
# set_union/intersect/except (plans/relational.py) are the DISTINCT
# forms; these are their ALL (multiset) twins — the semantics SQL uses
# for reconciliation workloads ("which rows are missing, counting
# multiplicity?"), where collapsing duplicates hides real deltas.

_SETALL_A = "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
_SETALL_B = "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"


@register(
    "set_except_all",
    oracle=f"{_SETALL_A} EXCEPT ALL {_SETALL_B}",
    tags=("setop", "bag"),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: per-key multiplicity subtraction — a customer with 5
    'F' orders and 2 'O' orders survives 3 times (the distinct form
    erases them entirely the moment ONE 'O' order exists). Spark's
    exceptAll plans this as a counted anti-semantics via aggregate+
    generate, not a row-by-row loop; one exchange per side on the full
    row key. The reconciliation primitive: diffing a reload against a
    previous load catches dropped DUPLICATES only under bag semantics
    (the reference's rerun-duplication quirk, SURVEY §3.2, is exactly
    such a delta)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.exceptAll(b)


@register(
    "set_intersect_all",
    oracle=f"{_SETALL_A} INTERSECT ALL {_SETALL_B}",
    tags=("setop", "bag"),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: min-of-multiplicities overlap — how many order
    slots a customer fills in BOTH statuses. Same counted-aggregate
    physical shape as exceptAll."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersectAll(b)


# --- join_spatial_grid ------------------------------------------------------
#
# Grid-bucketed radius self-join on 2D points (first two embedding
# dims): the standard spatial-join discipline (GeoSpark/Sedona's
# partition-by-cell shape). Cell size == radius, so any pair within r
# lands in the same or an adjacent cell; the smaller-id side explodes
# into its 3x3 neighborhood and candidates meet on a cell equi-join —
# never an all-pairs product.

_SPATIAL_R = 0.02


@register(
    "join_spatial_grid",
    oracle=f"""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {quantize_sql('(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)', 12)} AS dist2
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          < {_SPATIAL_R} * {_SPATIAL_R}
    """,
    tags=("join", "spatial", "similarity"),
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join on 2D points via grid bucketing: all pairs of
    embedding points whose first-two-dim Euclidean distance is < 0.02,
    with the squared distance (quantized 1e-12). The oracle is the
    exact brute-force SQL — so the driver hash PROVES the grid plan
    loses no pair and adds none.

    Plan shape: cell size == radius ⇒ a qualifying pair's cells differ
    by at most 1 per axis, so the smaller-id side explodes into its 3×3
    neighbor cells (9× of ids+coords, never of payloads) and candidates
    meet on a (cell_x, cell_y) equi-join; the exact-distance residual
    prunes the corner cases. Each unordered pair meets exactly once
    (only one side explodes; the id inequality picks the orientation) —
    no distinct needed.

    Scale story: this is O(n · density) instead of O(n²) — the spatial
    twin of the LSH band-join discipline (SCALE.md "Dedup family").
    Skew = dense cells; the mitigation is the same cap-and-salt used by
    dedup_embedding_lsh's hot buckets. At 100 TB you'd pre-partition by
    coarse cell and bucket-sort within, making the equi-join
    exchange-free."""
    emb = table(spark, sf_dir, "embeddings")
    cell = F.lit(_SPATIAL_R)
    p = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    ).select(
        "*",
        F.floor(F.col("x") / cell).cast("bigint").alias("cx"),
        F.floor(F.col("y") / cell).cast("bigint").alias("cy"),
    )
    a = p.select(
        F.col("vec_id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.expr("array(cx - 1, cx, cx + 1)")
        ).alias("jx"),
        "cy",
    ).select(
        "a_id",
        "ax",
        "ay",
        "jx",
        F.explode(F.expr("array(cy - 1, cy, cy + 1)")).alias("jy"),
    )
    b = p.select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["jx", "jy"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dist2 < F.lit(_SPATIAL_R * _SPATIAL_R))
        .select("a_id", "b_id", quantize(dist2, 12).alias("dist2"))
    )


# --- join_spatial_knn ---------------------------------------------------------
#
# Exact k-nearest-neighbor self-join on the 2D points via TIERED grid
# rings: ring-1 (3×3 cells) answers a point exactly when its k-th
# candidate sits within one cell width (the ring's guaranteed coverage
# disk); stragglers escalate to ring-2 (5×5, coverage 2·cell); anything
# still unresolved falls back to brute force against the full
# (broadcastable) point set. Every tier is a DataFrame op; exactness is
# by construction, and the oracle is the brute-force SQL.

_KNN_K = 3
_KNN_CELL = 0.1


def _knn_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings)
    SELECT a_id, b_id, rank, dist2 FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y),
                        b.vec_id) AS BIGINT) AS rank,
             {quantize_sql('(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)', 12)} AS dist2
      FROM p a JOIN p b ON a.vec_id <> b.vec_id)
    WHERE rank <= {_KNN_K}
    """


def _knn_rank(cand: DataFrame) -> DataFrame:
    """Top-k per a_id by (raw dist2, b_id) with the k-th raw distance
    carried alongside (for the coverage acceptance test)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("a_id").orderBy("d2_raw", "b_id")
    return (
        cand.select(
            "a_id",
            "b_id",
            "d2_raw",
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= _KNN_K)
        .withColumn(
            "kth_d2",
            F.max(F.when(F.col("rank") == _KNN_K, F.col("d2_raw"))).over(
                W.partitionBy("a_id")
            ),
        )
    )


@register("join_spatial_knn", oracle=_knn_oracle(), tags=("join", "spatial", "similarity", "ml"))
def join_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN (k=3) self-join on the 2D embedding points, ranked by
    (squared distance, neighbor id): the retrieval primitive under
    recommendation and density estimation. Tiered grid search keeps it
    exact WITHOUT an all-pairs product: a ring answers a point exactly
    when its k-th candidate distance is within the ring's guaranteed
    coverage disk (ring R covers radius R·cell); points the 3×3 ring
    can't certify escalate to 5×5, and the (empirically empty at every
    test SF) remainder brute-forces against a broadcast of the full
    point set — correctness never depends on density tuning.

    Scale story: candidate volume is O(n · ring² · cell density) for
    the overwhelming majority resolved at ring 1, and each tier's
    candidates meet on a (cell_x, cell_y) equi-join. The brute-force
    tail is |unresolved| × n with unresolved ≈ isolated outliers — at
    100 TB you'd bound it by capping escalation (emit radius-limited
    kNN for the tail, the standard ANN contract). Rank ties break on
    neighbor id — a total order, so the output is deterministic."""
    emb = table(spark, sf_dir, "embeddings", parallel=True)
    cell = F.lit(_KNN_CELL)
    p = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    ).select(
        "*",
        F.floor(F.col("x") / cell).cast("bigint").alias("cx"),
        F.floor(F.col("y") / cell).cast("bigint").alias("cy"),
    )
    b = p.select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))

    def ring_candidates(pts: DataFrame, r: int) -> DataFrame:
        offs = list(range(-r, r + 1))
        a = pts.select(
            F.col("vec_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.explode(F.array(*[F.col("cx") + o for o in offs])).alias("jx"),
            "cy",
        ).select(
            "a_id",
            "ax",
            "ay",
            "jx",
            F.explode(F.array(*[F.col("cy") + o for o in offs])).alias("jy"),
        )
        return (
            a.join(b, ["jx", "jy"])
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id", d2.alias("d2_raw"))
        )

    def accepted(ranked: DataFrame, radius: float) -> DataFrame:
        return ranked.filter(
            F.col("kth_d2").isNotNull() & (F.col("kth_d2") <= radius * radius)
        )

    k1 = _knn_rank(ring_candidates(p, 1))
    ok1 = accepted(k1, _KNN_CELL)
    rest1 = p.join(
        ok1.select("a_id").distinct(),
        p["vec_id"] == F.col("a_id"),
        "left_anti",
    )
    k2 = _knn_rank(ring_candidates(rest1, 2))
    ok2 = accepted(k2, 2 * _KNN_CELL)
    rest2 = rest1.join(
        ok2.select("a_id").distinct(),
        rest1["vec_id"] == F.col("a_id"),
        "left_anti",
    )
    brute = _knn_rank(
        rest2.select(
            F.col("vec_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
        )
        .crossJoin(F.broadcast(b.drop("jx", "jy")))
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", d2.alias("d2_raw"))
    )
    out = ok1.unionByName(ok2).unionByName(brute)
    return out.select(
        "a_id", "b_id", "rank", quantize(F.col("d2_raw"), 12).alias("dist2")
    )


_MOD32 = 4294967296


# --- join_bloom_prefilter ---------------------------------------------------
#
# The runtime-filter pattern, built from first principles: before
# shuffling the 100 TB fact side into a join, probe a fixed-size Bloom
# filter of the dim side's keys and drop non-matching rows AT THE SCAN.
# Spark injects these automatically in some shapes
# (spark.sql.optimizer.runtime.bloomFilter.enabled); this plan builds
# the filter explicitly — k=3 multiplicative hashes over an m-bit
# space, the bit set materialized as a distinct-position frame and
# broadcast — so the pruning is visible, testable, and portable. The
# final equi-join re-verifies every surviving row, so Bloom false
# positives cost only wasted shuffle rows, never wrong answers — which
# is why the oracle is the PLAIN join.

_BLOOM_M = 65536
_BLOOM_HASHES = [(2654435761, 0), (2246822519, 101), (3266489917, 211)]


def _bloom_positions(key, h_idx: int):
    a, b = _BLOOM_HASHES[h_idx]
    return ((key * F.lit(a) + F.lit(b)) % F.lit(_MOD32)) % F.lit(_BLOOM_M)


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey = 5
    """,
    tags=("join", "bloom", "runtime_filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered equi-join: build k=3 hash positions over the
    selective dim side (customers of nation 5), union-distinct them
    into one ≤ m-row bit-set frame, broadcast it, and semi-join the
    fact side's positions against it ONCE per hash — three scan-side
    broadcast semi-joins that drop most fact rows before the real join
    shuffles. The bit set is bounded by m = 65536 positions whatever
    the dim cardinality (the Bloom property: fixed size, one-sided
    error), and every surviving row is re-verified by the exact join,
    so the plan's answer equals the unfiltered join bit-for-bit. At
    cluster scale this is the difference between shuffling the full
    fact table and shuffling ~selectivity of it; Spark's own
    InjectRuntimeFilter does the same rewrite invisibly when stats
    justify it."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 5)
        .select("c_custkey", "c_name")
    )
    key = F.col("c_custkey").cast("bigint")
    bits = None
    for i in range(len(_BLOOM_HASHES)):
        p = c.select(_bloom_positions(key, i).alias("pos"))
        bits = p if bits is None else bits.unionByName(p)
    bits = bits.distinct()

    o = table(spark, sf_dir, "orders")
    okey = F.col("o_custkey").cast("bigint")
    pruned = o
    for i in range(len(_BLOOM_HASHES)):
        pruned = (
            pruned.withColumn("__pos", _bloom_positions(okey, i))
            .join(
                F.broadcast(bits.withColumnRenamed("pos", "__pos")),
                "__pos",
                "left_semi",
            )
            .drop("__pos")
        )
    return (
        pruned.join(F.broadcast(c), pruned.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


# --- window_distribution ----------------------------------------------------


@register(
    "window_distribution",
    oracle="""
    SELECT p_partkey, p_brand,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w    AS cume
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice)
    """,
    tags=("window", "distribution"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank ((rank-1)/(n-1)) and
    cume_dist (rows ≤ current / n) per brand by retail price. Both are
    value-determined under ties (SQL standard), so no tiebreaker is
    needed for a deterministic result; the division is one int/int
    double op, identical in both engines. One hash(p_brand) exchange."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    return p.select(
        "p_partkey",
        "p_brand",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- join_scd2_temporal -----------------------------------------------------


@register(
    "join_scd2_temporal",
    oracle=f"""
    WITH scd2 AS ({_SQL_SCD2})
    SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, d.status
    FROM lineitem l JOIN scd2 d
      ON l.l_orderkey = d.key
     AND d.valid_from <= l.l_shipdate
     AND (d.valid_to IS NULL OR l.l_shipdate < d.valid_to)
    """,
    tags=("join", "scd2", "temporal", "cdc"),
)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE warehouse temporal join: facts against a type-2 dimension AT
    EVENT TIME — each lineitem picks the dimension version whose
    [valid_from, valid_to) interval covers its ship date (open interval
    = NULL valid_to). Composes cdc_scd2's interval build with an
    equi-key join carrying the interval containment as a RESIDUAL
    predicate — key equality drives the hash join, so there is no range
    explosion and at most one version matches per fact by SCD2's
    non-overlap invariant (no distinct needed). Scale: the dim interval
    table is the small side (broadcast here; co-partitioned sort-merge
    past broadcast scale); facts never shuffle more than once. The
    same shape reads ANY bitemporal store — cdc_snapshot_at is this
    join with a constant timestamp."""
    li = table(spark, sf_dir, "lineitem")
    d = cdc_scd2(spark, sf_dir)
    return (
        li.join(
            F.broadcast(d),
            (li.l_orderkey == d.key)
            & (d.valid_from <= li.l_shipdate)
            & (d.valid_to.isNull() | (li.l_shipdate < d.valid_to)),
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "status")
    )


# --- window_rolling_median --------------------------------------------------


@register(
    "window_rolling_median",
    oracle="""
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL)
    SELECT event_type, event_id,
           CAST(quantile_cont(x, 0.5) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
             AS rolling_median
    FROM q
    """,
    tags=("window", "timeseries", "robust"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 7 observations per series — the
    robust smoother (median filters shrug off the spikes that wreck a
    rolling mean; events_anomaly_mad's discipline applied to a moving
    frame). Spark evaluates percentile() AS A WINDOW FUNCTION over the
    rows frame — the aggregate-over-frame surface, distinct from
    grouped percentiles. Exactness: inputs micro-quantize to integers
    first, so the continuous-median interpolation happens at d ∈
    {0, .5} over exact ints and divides by 1e6 once — bit-identical in
    both engines. One hash(event_type) exchange + one sort serves the
    whole computation."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint").alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    return q.select(
        "event_type",
        "event_id",
        (F.expr("percentile(x, 0.5)").over(w).cast("double") / F.lit(1e6)).alias(
            "rolling_median"
        ),
    )


# --- window_ewma ------------------------------------------------------------
#
# Exponentially weighted moving average over a trailing 20-row frame
# per event_type: s = fold(s·(1−α) + x·α) left-to-right across the
# frame, seeded by the frame's first value — the smoothing primitive
# under monitoring dashboards and adstock/carryover features that a
# plain windowed AVG can't express (recency weighting). Both engines
# fold the SAME value sequence in the SAME order with the SAME two
# IEEE ops per step, so the double result is bit-identical before the
# safety quantization.

_EWMA_ALPHA = 0.5
_EWMA_WIN = 20


_EWMA_SQL = f"""
    WITH o AS (
      SELECT event_type, event_id, value,
             list(value) OVER (PARTITION BY event_type
                               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                               ROWS BETWEEN {_EWMA_WIN - 1} PRECEDING
                                        AND CURRENT ROW) AS frame
      FROM events)
    SELECT event_type, event_id,
           floor(value * 1e6 + 0.5) / 1e6 AS value_q,
           floor(list_reduce(frame,
                             (acc, x) -> acc * {1.0 - _EWMA_ALPHA} +
                                         x * {_EWMA_ALPHA}) * 1e6 + 0.5) / 1e6
             AS ewma_q
    FROM o
    """


@register("window_ewma", oracle=_EWMA_SQL, tags=("window", "timeseries"))
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-frame EWMA per event_type (quantized doubles).

    Determinism: collect_list over a sorted row frame yields the frame
    rows IN FRAME ORDER in both engines; F.aggregate / list_reduce
    both run a LEFT fold seeded by the first element (Spark folds
    slice(l, 2, …) from element_at(l, 1); DuckDB's list_reduce without
    an init does exactly that), and each step is acc·(1−α) + x·α in
    that textual order — bit-identical IEEE sequences, quantized at
    the boundary only as harness safety. Shapes: one exchange on
    event_type, one sort, a bounded 20-row frame (state O(win) per
    row — no unbounded running state); the fold is a codegen'd
    higher-order function, not a UDF."""
    ev = table(spark, sf_dir, "events")
    ws = (
        W.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts").cast("bigint"), "event_id")
        .rowsBetween(-(_EWMA_WIN - 1), 0)
    )
    o = ev.select(
        "event_type",
        "event_id",
        "value",
        F.collect_list("value").over(ws).alias("frame"),
    )
    fold = (
        f"aggregate(slice(frame, 2, greatest(size(frame) - 1, 0)), "
        f"element_at(frame, 1), "
        f"(acc, x) -> acc * {1.0 - _EWMA_ALPHA}D + x * {_EWMA_ALPHA}D)"
    )
    return o.select(
        "event_type",
        "event_id",
        F.expr("floor(value * 1e6 + 0.5) / 1e6").alias("value_q"),
        F.expr(f"floor(({fold}) * 1e6 + 0.5) / 1e6").alias("ewma_q"),
    )


# --- join_division ----------------------------------------------------------
#
# Relational division (Codd's ÷): users who performed EVERY event
# type — the "for all" join no SQL keyword spells. Implemented the
# scale-correct way: distinct incidence + one count-compare against
# the broadcast universe size (never |types| stacked semi-joins, and
# never NOT EXISTS(NOT EXISTS) double negation, which planners
# decorrelate poorly).


_DIVISION_SQL = """
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
          FROM events),
    c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_done FROM u GROUP BY 1)
    SELECT c.user_id, c.n_done
    FROM c, k WHERE c.n_done = k.n_types
    """


@register("join_division", oracle=_DIVISION_SQL, tags=("join", "relational"))
def join_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who did ALL event types (relational division; integer).

    Shapes: one (user, type) dedup exchange (map-side combined), one
    user-grain count, and a 1-row broadcast for the divisor universe —
    O(|incidence|) total, independent of |types|. The textbook
    alternative (chained semi-joins per type) is |types| shuffles and
    can't survive a dynamic universe."""
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    k = ev.agg(F.countDistinct("event_type").cast("bigint").alias("n_types"))
    c = u.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_done")
    )
    return (
        c.crossJoin(F.broadcast(k))
        .filter(F.col("n_done") == F.col("n_types"))
        .select("user_id", "n_done")
    )


# --- join_partition_pruned --------------------------------------------------
#
# Dynamic partition pruning (DPP) — the Spark 3+ optimization that
# makes star joins on partitioned facts read ONLY the partitions the
# dimension filter selects, discovered at RUNTIME from the broadcast
# side. This key materializes a status-partitioned fact, joins it to
# a 2-row filtered dim, and returns per-status rollups; the paired
# plan test asserts `dynamicpruning` actually reached the fact scan
# (the difference between scanning 2/3 and 3/3 of a 100 TB table).


_DPP_SQL = """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY 1
    """

@staged("dpp")
def _dpp_fact(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the status-partitioned fact once per (session, sf)."""
    path = os.path.join(session_tmpdir("dpp_"), "orders_part")
    (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
            "o_orderstatus",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return path


@register("join_partition_pruned", oracle=_DPP_SQL, tags=("join", "layout"))
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join where the dim filter prunes fact PARTITIONS at
    runtime (DPP), rolled up per status.

    Shapes: the dim (2 rows) broadcasts; Spark reuses the broadcast
    as a dynamicpruning subquery INSIDE the fact scan's
    PartitionFilters, so unselected partitions are never listed, let
    alone read. tests/test_plans.py pins the `dynamicpruning`
    expression in the scan — the assertion that actually matters at
    100 TB."""
    fact = spark.read.parquet(_dpp_fact(spark, sf_dir))
    dim = (
        table(spark, sf_dir, "orders")
        .select("o_orderstatus")
        .distinct()
        .filter(F.col("o_orderstatus").isin("F", "O"))
    )
    j = fact.join(F.broadcast(dim), "o_orderstatus")
    return j.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- window_rolling_slope ---------------------------------------------------
#
# Trailing-window OLS slope per series — the momentum feature (is the
# metric trending up RIGHT NOW) that complements window_ewma's level
# smoothing and agg_linreg's global fit. x = row index within the
# series (consecutive ints), y = micro-quantized value; every frame
# moment (n, Σx, Σy, Σxy, Σx²) is an EXACT bigint window sum, and the
# slope is one integer floor-division: slope_micro = (nΣxy − ΣxΣy)·10⁶
# DIV (nΣx² − (Σx)²) — zero float anywhere.

_SLOPE_WIN = 20


_SLOPE_SQL = f"""
    WITH o AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                         event_id) AS x
      FROM events),
    m AS (
      SELECT event_type, event_id, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx,
             sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx
      FROM o
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, event_id, CAST(x AS BIGINT) AS x, y,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
    FROM m WHERE n >= 2
    """


@register("window_rolling_slope", oracle=_SLOPE_SQL, tags=("window", "timeseries"))
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 OLS slope per event_type (micro units/row,
    integer).

    Shapes: ONE event_type exchange and ONE sort serve the row-number
    pass and all five moment windows (same partitioning AND ordering);
    each moment is O(1) sliding-frame state. x is the in-series row
    index, so Σx² stays ≤ n³ — no epoch² overflow (the reason x is
    NOT raw epoch seconds; documented constraint)."""
    ev = table(spark, sf_dir, "events")
    wo = W.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts").cast("bigint"), "event_id"
    )
    o = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("y"),
        F.row_number().over(wo).alias("x"),
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-(_SLOPE_WIN - 1), 0)
    )
    m = o.select(
        "event_type",
        "event_id",
        "x",
        "y",
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wf).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
    )
    return m.filter(F.col("n") >= 2).select(
        "event_type",
        "event_id",
        F.col("x").cast("bigint").alias("x"),
        "y",
        F.expr("(n * sxy - sx * sy) * 1000000 DIV (n * sxx - sx * sx)")
        .cast("bigint")
        .alias("slope_micro"),
    )


# --- window_twap ------------------------------------------------------------
#
# Time-weighted average (TWAP): per user, Σ value·Δt / Σ Δt where Δt
# is each reading's holding time until the next event — the correct
# average for irregularly-sampled telemetry (a plain AVG over-weights
# bursts; the finance/metering standard). All-integer: Δt is epoch
# seconds, value rides as micro, the ratio is one bigint DIV.


_TWAP_SQL = """
    WITH o AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x_micro,
             lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_s
      FROM events),
    h AS (
      SELECT user_id, x_micro, next_s - s AS dt
      FROM o WHERE next_s IS NOT NULL AND next_s > s)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_holds,
           CAST(sum(dt) AS BIGINT) AS span_s,
           CAST(sum(x_micro * dt) // sum(dt) AS BIGINT) AS twap_micro
    FROM h GROUP BY 1
    """


@register("window_twap", oracle=_TWAP_SQL, tags=("window", "timeseries"))
def window_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (micro integer).

    Shapes: ONE user exchange serves the lead window and the weighted
    rollup; Σ x_micro·dt stays in int64 through sf100 (2·10⁸ micro ×
    10⁴ s × 10³ holds ≈ 2·10¹⁵). Zero-length holds (same-second
    events) drop out by the dt > 0 guard — registered semantics, and
    the reason the denominator can't be 0."""
    ev = table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("s", "event_id")
    o = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("x_micro"),
        "event_id",
    ).withColumn("next_s", F.lead("s").over(wl))
    h = o.filter(
        F.col("next_s").isNotNull() & (F.col("next_s") > F.col("s"))
    ).select("user_id", "x_micro", (F.col("next_s") - F.col("s")).alias("dt"))
    return h.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holds"),
        F.sum("dt").cast("bigint").alias("span_s"),
        F.expr("sum(x_micro * dt) DIV sum(dt)").cast("bigint").alias(
            "twap_micro"
        ),
    )


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
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        FROM {v['orders']}
        |> WHERE o_totalprice > 100000
        |> JOIN {v['customer']} ON o_custkey = c_custkey
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS sum_cents
           GROUP BY c_mktsegment
        |> SELECT c_mktsegment, n_orders, sum_cents
        """
    )


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
    v = views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH s AS (
          SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END AS k
          FROM {v['customer']}
        )
        SELECT
          CAST((SELECT count(*) FROM {v['orders']}
                WHERE o_custkey NOT IN (SELECT k FROM s)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT count(*) FROM {v['orders']} o
                WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = o.o_custkey))
               AS BIGINT) AS n_not_exists,
          CAST((SELECT count(*) FROM s WHERE k IS NULL) > 0 AS BOOLEAN)
            AS set_has_null
        """
    )


# --- recursive contamination closure ---------------------------------------

_CLOSURE_MAX_DEPTH = 4


@register(
    "sql_recursive_closure",
    oracle=_SQL_PAIRS
    + f"""
  , edges AS (SELECT i AS src, j AS dst FROM pairs
              UNION ALL SELECT j, i FROM pairs),
  seeds AS (SELECT DISTINCT src AS doc_id FROM edges WHERE src % {_BENCH_MOD} = 0)
  SELECT doc_id, CAST(MIN(depth) AS INT) AS depth FROM (
    WITH RECURSIVE closure(doc_id, depth) AS (
      SELECT doc_id, 0 FROM seeds
      UNION ALL
      SELECT e2.dst, c.depth + 1
      FROM closure c JOIN edges e2 ON e2.src = c.doc_id
      WHERE c.depth < {_CLOSURE_MAX_DEPTH}
    )
    SELECT * FROM closure
  ) GROUP BY doc_id
    """,
    tags=("sql", "recursive", "graph", "dedup"),
)
def sql_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 recursive CTEs): transitive contamination
    closure — a document that near-duplicates a near-duplicate of a
    benchmark doc is itself suspect, so the drop list is the
    REACHABLE SET over the near-dup graph, not one hop. Seeds are
    benchmark members that appear in any pair; edges are the symmetric
    jaccard-≥0.8 pairs; depth caps at 4 (near-dup clusters are
    shallow — SCALE.md's CC diameter note), and MIN(depth) per doc
    collapses the path multiplicity UNION ALL leaves behind. Both
    engines run the textually identical recursive query over the same
    edge list; each recursion level is one join of the frontier
    against the edge view — the same per-round cost envelope as the
    connected-components operator, declared instead of hand-rolled."""
    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    edges = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"))
    ).select(F.col("i").alias("src"), F.col("j").alias("dst"))
    edges.createOrReplaceTempView("__nd_edges")
    return spark.sql(
        f"""
        WITH seeds AS (
          SELECT DISTINCT src AS doc_id FROM __nd_edges
          WHERE src % {_BENCH_MOD} = 0
        )
        SELECT doc_id, CAST(MIN(depth) AS INT) AS depth FROM (
          WITH RECURSIVE closure(doc_id, depth) AS (
            SELECT doc_id, 0 FROM seeds
            UNION ALL
            SELECT e.dst, c.depth + 1
            FROM closure c JOIN __nd_edges e ON e.src = c.doc_id
            WHERE c.depth < {_CLOSURE_MAX_DEPTH}
          )
          SELECT * FROM closure
        ) GROUP BY doc_id
        """
    )


# --- physical-layout joins: join_bucketed, join_skew_salted ------------------
#
# The reference's only physical design is 4 SQLite secondary indexes
# (ETLCNPJFinalEmpresaEstabelecimentos.py:176-182). Spark has no indexes;
# its equivalents for the big-big join at 100 TB are these two:
#
# - Bucketing (join_bucketed): pre-shuffle both tables into the same
#   bucket layout ON WRITE, so every subsequent join/aggregate on the
#   bucket key runs with ZERO exchange — the write cost is paid once, every
#   downstream query reuses it. This is the Spark analog of the reference's
#   `empresas(cnpj_basico)` + `estabelecimentos(cnpj_basico)` index pair.
#   tests/test_plans.py asserts the joined plan really has no shuffle.
# - Salting (join_skew_salted): a hot key floods one reducer in a
#   shuffled join. Appending a deterministic salt ∈ [0,S) to the fact side
#   and replicating the other side S× splits each key across S tasks.
#   Result set is provably identical to the plain join (oracle = plain SQL
#   join); only the key distribution changes. AQE's skew-join splitting
#   (on in session.py) handles moderate skew automatically — explicit
#   salting is the fallback for pathological keys.


SALT = 8


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_acctbal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join", "layout", "bucketed"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer on c_custkey with BOTH sides pre-bucketed by the
    join key: the join plan contains no Exchange (asserted by
    tests/test_plans.py) — each task reads bucket i of both tables and
    joins locally. At 100 TB this turns the nightly big-big join from the
    cluster's largest shuffle into a scan."""
    write_bucketed(table(spark, sf_dir, "orders"), "bkt_orders", "o_custkey")
    write_bucketed(table(spark, sf_dir, "customer"), "bkt_customer", "c_custkey")
    o = spark.table("bkt_orders")
    c = spark.table("bkt_customer")
    # MERGE hint: at test SF the planner would broadcast the small side
    # (also shuffle-free, but it hides the point); the hint pins the
    # big-big strategy this layout exists for — sort-merge over matching
    # bucket files, no exchange on either side.
    return o.join(c.hint("merge"), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("join", "layout", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders with an explicit salt: fact rows get
    salt = l_linenumber % S (deterministic, no rand()), the orders side is
    exploded S× with every salt value, and the join key becomes
    (orderkey, salt). Each hot orderkey's rows now spread over S reducer
    partitions. Output ≡ the plain equi-join — the oracle IS the plain
    join, which proves salting is result-transparent."""
    l = table(spark, sf_dir, "lineitem").withColumn(
        "__salt", (F.col("l_linenumber") % SALT).cast("int")
    )
    o = table(spark, sf_dir, "orders").withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    )
    return l.join(
        o, (l.l_orderkey == o.o_orderkey) & (l["__salt"] == o["__salt"])
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice")
