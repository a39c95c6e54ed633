"""Composite benchmark queries: the COMPLETE TPC-H suite (all 22),
adapted to the testdata star schema.

The reference's entire analytical surface is one SPJ star query
(`ETLCNPJFinalEmpresaEstabelecimentos.py:191-234`); every single-operator
plan in this registry exercises one capability at a time. These are the
opposite: standard multi-join + aggregate + subquery + top-k workloads
(join order, broadcast selection, partial aggregation, decorrelation,
and sort/limit all in one plan) — the shapes Catalyst's optimizer
exists for, and the headline entries for bench.py beyond the flagship.

Adaptations to the driver schema (TESTDATA.md): o_shippriority does not
exist → Q3 carries o_orderpriority; dates are TIMESTAMP columns → literal
cutoffs are timestamps inside the 1995–2001 data range. Queries needing
partsupp / commit+receipt dates / ship modes (q2 q9 q11 q12 q16 q17 q19
q20 q21) run on inputs DERIVED deterministically from the shipped tables
— see the derived-input banner further down.

Determinism: revenue accumulates in decimal (registry convention) and the
top-k ORDER BY sorts on the EXACT decimal with a unique-key tiebreaker,
so the LIMIT selects an identical set in both engines; the double cast
happens after.

Broadcast-hint policy at 100 TB: hard `F.broadcast()` hints go only on
(a) bounded-cardinality frames (nation/region/derived scalars) and
(b) dimension sides that stay a small fixed FRACTION of the fact table
under scale-up (part/supplier — TPC-H holds part ≈ lineitem/30 and
supplier ≈ lineitem/10⁴, and the hinted sides are filtered further), so
the broadcast grows ~500 MB–1 GB at SF100k versus re-shuffling the fact
table twice — the right trade on a 1000-executor cluster. Frames that
grow WITH the fact table (customer, orders) are never hard-hinted; AQE
picks broadcast at small SF and sort-merge once they outgrow the
threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import register


_DEC = "decimal(27,6)"
_REV_SQL = f"SUM(CAST(l_extendedprice * (1 - l_discount) AS {_DEC}))"


def _rev_dec() -> F.Column:
    return F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           CAST({_REV_SQL} AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY {_REV_SQL} DESC, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 Shipping Priority: unshipped high-value BUILDING orders.
    customer⋈orders⋈lineitem with selective filters on all three tables
    (each pushed to its scan), aggregate on the order grain, exact-decimal
    top-10. Physical: customer (filtered) broadcasts under AQE; the
    orders⋈lineitem join shuffles on the shared orderkey so the groupBy
    on l_orderkey reuses that partitioning."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_dec().alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, CAST({_REV_SQL} AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 Local Supplier Volume: revenue from orders where customer and
    supplier share an ASIA nation. Six-table join with a non-key equality
    (c_nationkey = s_nationkey) folded into the supplier join — the
    join-reordering / broadcast-selection stress test. nation and region
    always broadcast (bounded cardinality, catalog.ALWAYS_BROADCAST
    rationale); supplier is sf-scaled but small → AQE promotes it."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_dec().cast("double").alias("revenue"))
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST({_REV_SQL} AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY {_REV_SQL} DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 Returned Item Reporting: top-20 customers by revenue lost to
    returns in one quarter. Join on the fact side first (orders filter is
    the selective one), aggregate on the customer grain, exact-decimal
    top-20 via TakeOrderedAndProject — the k-row answer never
    materializes the full sorted result."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_rev_dec().alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


_Q18_QTY = 250


@register(
    "tpch_q18",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS total_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS {_DEC})) > {_Q18_QTY})
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "join", "agg", "subquery", "topk"),
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 Large Volume Customer: orders whose total quantity exceeds the
    threshold, decorated with customer and re-aggregated. The IN-subquery
    over an aggregate decorrelates to an aggregate + LEFT SEMI join
    (Catalyst, not us); the qty sums accumulate in decimal on both
    engines so HAVING cuts identical sets. Top-100 by (o_totalprice,
    o_orderkey) — a total order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("q"))
        .filter(F.col("q") > _Q18_QTY)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "__bk"), F.col("o_orderkey") == F.col("__bk"), "left_semi")
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_dec"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


@register(
    "tpch_q6",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS {_DEC})) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 Forecasting Revenue Change: pure scan + conjunctive range
    filters + global aggregate — the pushdown benchmark. Every predicate
    reaches the parquet scan (min/max row-group skipping does the work at
    100 TB); no join, no shuffle beyond the final partial-agg merge."""
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "exists", "semi", "agg"),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 Order Priority Checking (adapted: no commit/receipt dates in
    the driver schema → 'shipped after the order date' is the lateness
    predicate). The EXISTS becomes a LEFT SEMI join with a non-equi
    residual (l_shipdate > o_orderdate) — the semi join dedups matches
    for free, where an inner join + distinct would pay a second shuffle."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q14",
    oracle=f"""
    SELECT CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS {_DEC})) AS DOUBLE) * 100
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE)
             AS promo_revenue_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 Promotion Effect: one month's promo revenue share. Conditional
    aggregation over a fact⋈dim join — part is sf-scaled small, so AQE
    broadcasts it and the month filter prunes the fact scan; the ratio's
    numerator and denominator both accumulate in decimal."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)).cast(_DEC))
            .cast("double")
            * 100
            / F.sum(rev.cast(_DEC)).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg", "distribution"),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 Customer Distribution (adapted: no o_comment filter in the
    driver schema): orders-per-customer histogram via LEFT join (zero
    counts survive — count(o_orderkey) skips the nulls the outer join
    manufactures) then a second aggregate over the counts. Two shuffles:
    custkey, then the tiny c_count domain."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q22",
    oracle=f"""
    SELECT c_nationkey AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE)
                              / count(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
    tags=("tpch", "anti", "scalar_subquery", "agg"),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 Global Sales Opportunity (adapted: nation key stands in for
    the phone country code): above-average-balance customers with NO
    orders. The scalar subquery (global positive-balance average,
    decimal-accumulated so the threshold is bit-identical) broadcasts to
    every row; NOT EXISTS is a left-anti join. The anti join's build side
    is just order custkeys — at 100 TB project the join column before
    the anti join, never ship whole rows."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    lonely = rich.join(o.select("o_custkey"), rich.c_custkey == F.col("o_custkey"), "left_anti")
    return lonely.groupBy(F.col("c_nationkey").alias("cntry")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
    )


@register(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS sum_base_price,
           CAST({_REV_SQL} AS DOUBLE)                           AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS {_DEC})) AS DOUBLE)                 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)      / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS {_DEC})) AS DOUBLE)      / COUNT(*) AS avg_disc,
           COUNT(*)                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 Pricing Summary Report: the canonical full-scan aggregate —
    eight measures over ~all of lineitem, grouped on a 6-ish-value key.
    Physical shape is the best case for Spark: the scan reads only the 7
    needed columns (ReadSchema pruning), partial aggregation collapses
    each input partition to a handful of rows map-side, and the exchange
    ships six groups, not 60k rows. Averages divide the exact decimal
    sum (cast to double) by the group count so both engines perform the
    same single IEEE division; sum_charge keeps the oracle's left-assoc
    product order so the double multiplies are bit-identical."""
    li = table(spark, sf_dir, "lineitem", parallel=True).filter(F.col("l_shipdate") <= "2001-09-02")

    def _sdec(c: F.Column) -> F.Column:
        return F.sum(c.cast(_DEC))

    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sdec(F.col("l_quantity")).cast("double").alias("sum_qty"),
            _sdec(F.col("l_extendedprice")).cast("double").alias("sum_base_price"),
            _rev_dec().cast("double").alias("sum_disc_price"),
            _sdec(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).cast("double").alias("sum_charge"),
            (_sdec(F.col("l_quantity")).cast("double") / n).alias("avg_qty"),
            (_sdec(F.col("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (_sdec(F.col("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT n1.n_name                                   AS supp_nation,
           n2.n_name                                   AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT)  AS l_year,
           CAST({_REV_SQL} AS DOUBLE)                  AS revenue
    FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 Volume Shipping (nation names adapted to the testdata domain):
    bilateral trade volume between two nations by ship year. The two
    nation aliases broadcast (25 rows, ALWAYS_BROADCAST class); the OR
    pair-filter lands after both nation joins but Catalyst still pushes
    the single-nation IN(1,2) residuals onto each broadcast side. The
    big shape is lineitem⋈orders on orderkey (one shuffle) with
    supplier/customer joined on their keys; AQE broadcasts whichever of
    those dims the filters shrink below threshold at runtime."""
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_rev_dec().cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_dec
                         ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
             / CAST(SUM(vol_dec) AS DOUBLE)             AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS {_DEC}) AS vol_dec,
             n2.n_name AS supp_nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 National Market Share (adapted: p_type domain is single words,
    nation names are NATION_n): the fraction of ASIA's ECONOMY-part
    revenue supplied by NATION_3, by order year. The deepest join tree
    in the registry (8 tables). part filtered on p_type is the most
    selective input — joining lineitem to it FIRST cuts the fact rows
    ~6× before the orderkey shuffle; region/nation broadcast always,
    and the market-share division happens once per year-group after two
    exact decimal sums. The conditional numerator uses the same decimal
    volume term as the denominator so no row is valued differently
    between the two sums."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("vol_dec"), "supp_nation")
    )
    zero = F.lit(0).cast(_DEC)
    return (
        j.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("vol_dec")).otherwise(zero)
                ).cast("double")
                / F.sum(F.col("vol_dec")).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, {_REV_SQL} AS total_rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_rev_dec AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue0)
    ORDER BY s_suppkey
    """,
    tags=("tpch", "agg", "subquery"),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 Top Supplier: the supplier(s) with maximum quarterly revenue.
    The classic view-plus-scalar-subquery shape becomes: aggregate
    lineitem once on l_suppkey (one shuffle of ~|suppliers| partial
    sums), then an unpartitioned max window over that tiny aggregate —
    NOT a second scan of lineitem the way the SQL view is naively
    evaluated twice. The equality filter compares exact decimals, so
    'the max' is one deterministic set in both engines; the supplier
    dim joins broadcast-side. At 100 TB the window-over-aggregate
    trick matters: revenue0 is O(suppliers) rows, so the global max
    costs a single-partition pass over kilobytes, not a re-aggregation."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _rev_dec().alias("total_rev_dec")
    )
    best = rev.withColumn("max_rev", F.max("total_rev_dec").over(Window.partitionBy())).filter(
        F.col("total_rev_dec") == F.col("max_rev")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(s), best.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev_dec").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Derived-input completion of the suite: q2/q9/q11/q12/q16/q17/q19/q20/q21.
#
# The driver testdata ships no partsupp table, and lineitem carries no
# commit/receipt dates or ship modes — the columns those nine queries
# need. Rather than leave 9 of 22 unimplemented, the missing inputs are
# DERIVED deterministically from the shipped tables with integer
# arithmetic both engines compute identically — the cdc_apply pattern:
# the oracle re-derives the exact same input inside its own SQL, so the
# driver check stays end-to-end and hash-exact. partsupp follows
# dbgen's shape (4 suppliers per part, spread across the supplier space
# by quarter-strides; distinct whenever |supplier| >= 4); receipt/commit
# dates are ship-date offsets, so date comparisons cancel the base and
# never round-trip a timestamp value across engines; ship modes are a
# 7-value dictionary pick. Each query notes where it adapts the spec's
# predicates to the columns the testdata actually has.
# ---------------------------------------------------------------------------

_SQL_PARTSUPP = """
  partsupp AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey + p_partkey // s.s + i.i * (s.s // 4)) % s.s AS ps_suppkey,
           (p_partkey * 7 + i.i * 11) % 97 + 1                     AS ps_availqty,
           ((p_partkey * 31 + i.i * 13) % 90000 + 10000) / 100.0   AS ps_supplycost
    FROM part
    CROSS JOIN (SELECT unnest(range(4)) AS i) i
    CROSS JOIN (SELECT count(*) AS s FROM supplier) s
  )
"""

# receipt/commit-date day offsets from l_shipdate (spec: receipt can
# precede or follow commit; both in both engines cancel the base date in
# every comparison, so no timestamp VALUE ever crosses an engine boundary)
_REC_OFF = "(l_orderkey * 3 + l_linenumber * 7) % 30 + 1"
_COM_OFF = "(l_orderkey * 5 + l_linenumber * 11) % 45 + 1"
_MODE_LIST = "'MAIL','SHIP','TRUCK','RAIL','AIR','FOB','REG AIR'"
_MODE_IDX = "(l_orderkey * 13 + l_linenumber) % 7 + 1"


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see banner): 4 rows per part; ps_suppkey strides
    the supplier space in quarters so the 4 suppliers are distinct for
    any supplier count >= 4; availqty/supplycost are deterministic
    integer mixes. Supplier count enters as a broadcast 1-row frame, not
    a driver action."""
    p = table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("s"))
    return (
        p.crossJoin(F.broadcast(s_cnt))
        .select("p_partkey", "s", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr("(p_partkey + p_partkey div s + i * (s div 4)) % s").alias(
                "ps_suppkey"
            ),
            F.expr("(p_partkey * 7 + i * 11) % 97 + 1").alias("ps_availqty"),
            F.expr("((p_partkey * 31 + i * 13) % 90000 + 10000) / 100.0").alias(
                "ps_supplycost"
            ),
        )
    )


def _lineitem_dated(
    spark: SparkSession, sf_dir: str, parallel: bool = False
) -> DataFrame:
    """lineitem + derived l_receiptdate / l_commitdate / l_shipmode.

    ``parallel`` (r13): q21 opts in — its order-grain count_distinct
    aggregate does heavy map-side work before the first exchange, and
    the scan is single-row-group-serial (catalog.maybe_parallelize_scan);
    q12's first op is a join exchange with a trivial map side, where the
    extra repartition measured +0.1 s, so it stays off by default."""
    return table(spark, sf_dir, "lineitem", parallel=parallel).select(
        "*",
        F.expr(f"l_shipdate + make_dt_interval({_REC_OFF}, 0, 0, 0)").alias(
            "l_receiptdate"
        ),
        F.expr(f"l_shipdate + make_dt_interval({_COM_OFF}, 0, 0, 0)").alias(
            "l_commitdate"
        ),
        F.expr(f"element_at(array({_MODE_LIST}), cast({_MODE_IDX} as int))").alias(
            "l_shipmode"
        ),
    )


@register(
    "tpch_q11",
    oracle=f"""
    WITH {_SQL_PARTSUPP},
    sl AS (
      SELECT ps_partkey, ps_supplycost, ps_availqty
      FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
                    JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_2', 'NATION_7')
    ),
    g AS (
      SELECT ps_partkey,
             CAST(SUM(CAST(ps_supplycost * ps_availqty AS {_DEC})) AS DOUBLE) AS value
      FROM sl GROUP BY ps_partkey
    ),
    t AS (
      SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS {_DEC})) AS DOUBLE)
               / COUNT(DISTINCT ps_partkey) AS avg_part_value
      FROM sl
    )
    SELECT ps_partkey, value
    FROM g, t
    WHERE value > 2.0 * avg_part_value
    ORDER BY value DESC
    """,
    tags=("tpch", "agg", "having", "derived_input"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 Important Stock Identification over the derived partsupp:
    per-part inventory value within a 2-nation supplier slice, kept when
    above 2× the average per-part value. Adaptation: the spec's fixed
    FRACTION (0.0001/SF) can't live in a static oracle across SFs, so
    the threshold derives from the same slice (2× mean) — SF-invariant
    semantics, same HAVING-on-scalar-subquery shape. Physical: partsupp
    is generated scan-side (part × 4 via explode, supplier count
    broadcast); the nation slice prunes before the one groupBy shuffle;
    the global total is a broadcast 1-row frame, not a driver action."""
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_7")
    )
    sl = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("ps_partkey", "ps_supplycost", "ps_availqty")
    )
    val = F.sum((F.col("ps_supplycost") * F.col("ps_availqty")).cast(_DEC))
    g = sl.groupBy("ps_partkey").agg(val.cast("double").alias("value"))
    t = sl.agg(
        (val.cast("double") / F.count_distinct("ps_partkey")).alias("avg_part_value")
    )
    return (
        g.crossJoin(F.broadcast(t))
        .filter(F.col("value") > 2.0 * F.col("avg_part_value"))
        .orderBy(F.desc("value"))
        .select("ps_partkey", "value")
    )


@register(
    "tpch_q9",
    oracle=f"""
    WITH {_SQL_PARTSUPP}
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - ps_supplycost * l_quantity AS {_DEC})) AS DOUBLE)
             AS sum_profit
    FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
    tags=("tpch", "join", "agg", "derived_input"),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 Product Type Profit: profit (revenue minus supply cost) per
    nation per year for parts matching a name pattern — the six-table
    join with the widest fact fan-in in the suite. Adaptation note: with
    a DERIVED partsupp, the (l_partkey, l_suppkey) equi-join is also a
    filter (~4% of lines have a known supply relationship) — the spec's
    join shape is preserved, the data just isn't referentially complete.
    Physical: part (filtered), supplier, nation broadcast; partsupp is
    scan-side generated and joins on the composite key; one shuffle for
    the join spine, one for the group."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    ps = _partsupp(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast(_DEC)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            ps,
            (ps.ps_partkey == li.l_partkey) & (ps.ps_suppkey == li.l_suppkey),
        )
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q16",
    oracle=f"""
    WITH {_SQL_PARTSUPP}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "agg", "anti", "derived_input"),
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 Parts/Supplier Relationship: distinct-supplier counts per
    (brand, type, size) outside an exclusion list. Adaptation: the
    spec's comment-LIKE supplier exclusion ('%Customer%Complaints%')
    has no comment column here — negative account balance stands in as
    the complaint proxy (same NOT IN → anti-join decorrelation shape).
    Physical: the exclusion list is tiny and broadcasts as an anti
    join; count(DISTINCT) shuffles once on the 3-column group key."""
    ps = _partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("ps_suppkey")
    )
    return (
        ps.join(bad, "ps_suppkey", "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q2",
    oracle=f"""
    WITH {_SQL_PARTSUPP},
    ecost AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
                    JOIN nation   ON s_nationkey = n_nationkey
                    JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    m AS (SELECT ps_partkey, min(ps_supplycost) AS mc FROM ecost GROUP BY 1)
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           CAST(e.ps_supplycost AS DOUBLE) AS supplycost, e.ps_suppkey
    FROM part p
      JOIN ecost e ON p.p_partkey = e.ps_partkey
      JOIN m      ON m.ps_partkey = p.p_partkey AND e.ps_supplycost = m.mc
    WHERE p.p_type = 'ECONOMY' AND p.p_size <= 10
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey, e.ps_suppkey
    LIMIT 100
    """,
    tags=("tpch", "join", "subquery", "topk", "derived_input"),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 Minimum Cost Supplier: for each part in a type/size slice, the
    ASIA supplier(s) quoting the minimum supply cost — the correlated
    scalar-subquery query, decorrelated into a per-part min + equality
    join (what engines do under the hood; identical result). Adaptation:
    p_mfgr doesn't exist → p_brand in the projection; the spec's
    '%BRASS' type suffix → the testdata's 'ECONOMY'. The min and the
    cost it compares against are the SAME double in both engines, so
    the equality is exact. Total order for the LIMIT:
    (acctbal DESC, nation, supplier, part, suppkey). Physical: the
    region slice prunes suppliers before partsupp joins them; the
    per-part min frame is part-sized and broadcasts back."""
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10)
    )
    ecost = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    m = ecost.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    return (
        ecost.join(F.broadcast(p), ecost.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(m),
            (F.col("mk") == F.col("p_partkey"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "ps_suppkey"
        )
        .limit(100)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
            "ps_suppkey",
        )
    )


@register(
    "tpch_q17",
    oracle=f"""
    WITH a AS (
      SELECT l_partkey AS ak,
             CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) / COUNT(*) AS avgq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN a    ON ak = l_partkey
    WHERE p_brand = 'Brand#12' AND p_size <= 25
      AND l_quantity < 0.2 * avgq
    """,
    tags=("tpch", "agg", "subquery", "derived_input"),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 Small-Quantity-Order Revenue: lines whose quantity is below
    20% of their part's average — the correlated AVG subquery,
    decorrelated to a per-part aggregate joined back (identical result,
    and the scalable shape: the avg frame is part-sized and
    broadcasts). Adaptation: p_container doesn't exist → the brand +
    size slice stands in. The threshold (decimal-exact sum / count,
    one IEEE multiply by 0.2) is the same double in both engines, so
    the strict < never straddles. Single-row output."""
    li = table(spark, sf_dir, "lineitem")
    a = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "avgq"
        )
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 25)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(a), F.col("ak") == li.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avgq"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "tpch_q19",
    oracle=f"""
    SELECT CAST({_REV_SQL} AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join", "disjunct", "derived_input"),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 Discounted Revenue: the OR-of-ANDs disjunct join — three
    brand/size/quantity envelopes summed as one revenue figure. The
    predicate spans both join sides, so Catalyst must keep it above the
    join while still pushing the per-side prunable parts (brand/size
    reach the part scan). Adaptation: p_container/l_shipmode don't
    exist → size and quantity carry the envelopes. Single-row output;
    revenue accumulates in decimal."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_rev_dec().cast("double").alias("revenue"))
    )


@register(
    "tpch_q20",
    oracle=f"""
    WITH {_SQL_PARTSUPP},
    agg AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    cand AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
        JOIN part ON p_partkey = ps_partkey
        JOIN agg  ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE p_name LIKE 'red%'
        AND ps_availqty > 0.5 * sq
    )
    SELECT s_name, s_acctbal
    FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN cand   ON s_suppkey = ps_suppkey
    WHERE r_name = 'ASIA'
    ORDER BY s_name
    """,
    tags=("tpch", "semi", "subquery", "derived_input"),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 Potential Part Promotion: ASIA suppliers holding excess stock
    (availqty > half the year's shipped quantity) of red parts — the
    nested IN-subquery query, decorrelated into aggregate + joins + a
    distinct semi step. The spec's scalar subquery returns NULL for a
    (part, supplier) with no shipments — excluded by the comparison —
    which the inner-join form reproduces exactly. Adaptation: s_address
    → s_acctbal in the projection; p_name prefix match is as-spec.
    Physical: the year window prunes lineitem at the scan; the
    candidate-supplier set is tiny and broadcasts into the final semi
    join."""
    ps = _partsupp(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    agg = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sq")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    cand = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            agg,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("sq"))
        .select("ps_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(cand), s.s_suppkey == F.col("ps_suppkey"))
        .orderBy("s_name")
        .select("s_name", "s_acctbal")
    )


@register(
    "tpch_q21",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_linenumber,
             l_shipdate + ({_REC_OFF}) * INTERVAL 1 DAY AS l_receiptdate,
             l_shipdate + ({_COM_OFF}) * INTERVAL 1 DAY AS l_commitdate
      FROM lineitem
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
      JOIN l l1     ON s_suppkey = l1.l_suppkey
      JOIN orders   ON o_orderkey = l1.l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (
        SELECT 1 FROM l l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM l l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_receiptdate > l3.l_commitdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("tpch", "exists", "anti", "derived_input"),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 Suppliers Who Kept Orders Waiting: late lines on finalized
    multi-supplier orders where that supplier was the ONLY late one —
    the EXISTS + NOT EXISTS query. Decorrelated the scalable way: one
    order-grain aggregate computes (distinct suppliers, distinct LATE
    suppliers); l1 qualifies iff n_supp > 1 and n_late_supp = 1 (l1
    being late makes it the one). That replaces two correlated
    per-row probes with a single reusable frame — the form a 100 TB
    plan needs, and provably the same predicate. Adaptation: spec's
    single-nation filter widens to region ASIA (nations here hold ~4
    suppliers each); receipt/commit are derived day-offsets from
    l_shipdate, so the late comparison cancels the base date.
    Total order for the LIMIT: (numwait DESC, s_name) — s_name is
    supplier-unique."""
    li = _lineitem_dated(spark, sf_dir, parallel=True)
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    og = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        li.filter(late)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(og, F.col("ok") == li.l_orderkey)
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "tpch_q12",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey,
             ([{_MODE_LIST}])[({_MODE_IDX})] AS l_shipmode,
             l_shipdate,
             l_shipdate + ({_REC_OFF}) * INTERVAL 1 DAY AS l_receiptdate,
             l_shipdate + ({_COM_OFF}) * INTERVAL 1 DAY AS l_commitdate
      FROM lineitem
    )
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN l ON o_orderkey = l_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
      AND l_receiptdate >= TIMESTAMP '1997-01-01'
      AND l_receiptdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
    tags=("tpch", "join", "agg", "derived_input"),
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 Shipping Modes and Order Priority: late-arriving lines on two
    ship modes, split into high/low-priority counts — the conditional
    two-way pivot aggregate. Ship mode and both dates are derived
    columns (see banner); the receipt-date year window and the
    commit<receipt lateness predicate evaluate on the derived
    timestamps identically in both engines (same base + same integer
    day offsets). Physical: the mode/date filters prune lineitem before
    the orderkey join; counts partial-aggregate map-side."""
    li = _lineitem_dated(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_shipmode").isin("MAIL", "SHIP")
            & (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= "1997-01-01")
            & (F.col("l_receiptdate") < "1998-01-01")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )
