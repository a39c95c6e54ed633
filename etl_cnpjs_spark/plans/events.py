"""Event-log analytics over `events` (events_*) and change-data capture
(cdc_*): sessionization, funnels, retention and cohorts, attribution,
path and sequence patterns, resampling, gap filling and interval
coalescing, anomaly and change-point detection, A/B-test statistics,
SLA and burn-rate monitoring, and CDC apply / compaction / SCD2 /
point-in-time snapshots.

The reference is batch SPJ over the CNPJ registry and has none of this
surface; these are the event-analytics operators a clickstream or
training-metrics pipeline layers on top, each with a full DuckDB oracle.

Determinism: every ordering carries the unique (ts, event_id)
tiebreaker; time arithmetic stays in bigint microseconds
(`unix_micros` / `epoch_us` — identical truncation on both engines, see
catalog.table); counts and rates are integer (ppm via bigint DIV);
money goes through DECIMAL accumulation; float statistics run the same
formula text over identical integer inputs and quantize at the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.operators.relational import sessionize
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register
from etl_cnpjs_spark.streaming.stateful import ATTR_LOOKBACK_H as _ATTR_LOOKBACK_H


@register(
    "events_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT user_id, t_signup, t_click, t_buy,
           (t_signup IS NOT NULL AND t_click > t_signup AND t_buy > t_click)
             AS converted
    FROM f
    WHERE t_signup IS NOT NULL
    """,
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: earliest signup → click → purchase per user, and
    whether they happened in order — the conditional-aggregation shape
    (min over CASE) that computes an entire multi-stage funnel in ONE
    shuffle, instead of chained self-joins per stage."""
    ev = table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    f = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    return f.filter(F.col("t_signup").isNotNull()).select(
        "user_id",
        "t_signup",
        "t_click",
        "t_buy",
        (
            F.col("t_signup").isNotNull()
            & (F.col("t_click") > F.col("t_signup"))
            & (F.col("t_buy") > F.col("t_click"))
        ).alias("converted"),
    )


# 6 hours in microseconds: events average one per ~10 h per user, so this
# yields a mix of singleton and multi-event sessions at sf0.01.
_SESSION_GAP_US = 21_600_000_000


@register(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("events", "window", "sessionize"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after >6 h of user
    inactivity. lag → flag → running sum assigns session ids in ONE
    window pass, then per-session aggregation.

    Physical shape: ONE exchange on user_id feeds both window passes
    (lag, then the running sum) and the final groupBy(user_id,
    session_seq) — hash(user_id) already clusters (user_id,
    session_seq), so EnsureRequirements inserts no second exchange
    (asserted in tests/test_plans.py). At 100 TB this is the scalable
    alternative to collecting per-user event lists."""
    ev = table(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", "event_id", _SESSION_GAP_US)


# --- events_retention ------------------------------------------------------


@register(
    "events_retention",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    ),
    j AS (
      SELECT d.user_id, c.cohort_day,
             datediff('day', c.cohort_day, d.day) AS off
      FROM days d JOIN cohort c ON d.user_id = c.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP)              AS cohort_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)       AS cohort_size,
           CAST(COUNT(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT)
                                                         AS d1_retained,
           CAST(COUNT(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT)
                                                         AS d7_retained
    FROM j GROUP BY cohort_day
    """,
    tags=("events", "retention", "analytics"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple the reference's
    domain (company registries) never needs but an events pipeline
    always does: cohort = each user's first active day; D1/D7 retention
    = users active exactly 1/7 days later (cohort_day emitted as a
    timestamp — both engines' pandas bridges agree on that type, while
    DATE surfaces as datetime.date in Spark but datetime64 in DuckDB).
    Shapes: distinct (user, day)
    collapses events early (the volume reducer), per-user min is one
    shuffle on user_id, and the activity join reuses that partitioning;
    the final cohort rollup shuffles only (cohort_day, user) pairs.
    Counts are exact integers — no float drift."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = days.join(cohort, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff("day", "cohort_day").alias("off"),
    )
    return j.groupBy(F.col("cohort_day").cast("timestamp").alias("cohort_day")).agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(F.when(F.col("off") == 1, F.col("user_id"))).alias(
            "d1_retained"
        ),
        F.countDistinct(F.when(F.col("off") == 7, F.col("user_id"))).alias(
            "d7_retained"
        ),
    )


# --- events_anomaly --------------------------------------------------------


@register(
    "events_anomaly",
    oracle="""
    WITH s AS (
      SELECT user_id,
             COUNT(*)                                        AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)         AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    ), z AS (
      SELECT e.event_id, e.user_id, e.value,
             (e.value - s.s1 / s.n)
               / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS zscore,
             s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)            AS var
      FROM events e JOIN s ON e.user_id = s.user_id
    )
    SELECT event_id, user_id, value, zscore
    FROM z WHERE var > 0 AND abs(zscore) > 3
    """,
    tags=("events", "anomaly", "stats"),
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier screen: events whose value sits more than 3
    population standard deviations from that user's mean — the data-QA
    gate (sensor glitches, bot bursts, corrupt ingests) a pipeline runs
    before aggregates are trusted. Moments are exact decimal sums
    (sum, sum-of-squares) so mean and variance derive from identical
    inputs in both engines, and every subsequent double op (two
    divisions, one multiply, sqrt, compare) is the same IEEE sequence —
    no stddev_pop, whose Welford ordering is engine-specific.

    Residual risk, shared by every moment plan that casts a double
    PRODUCT to DECIMAL(27,6) (here, events_resample/ohlc,
    agg_skew_kurtosis): double→decimal rounding itself is engine-
    convention (Spark HALF_UP on the 17-digit shortest repr, DuckDB on
    the binary value), so a product landing exactly on a 6-dp half
    boundary could one day flip a last digit — the same class as the
    round() divergence registry.quantize exists for. At scale 6 the
    boundary set has measure ≈0 and all keys spot-verified bit-exact at
    sf0.01/0.1; if a flip ever surfaces, route the product through
    quantize()/quantize_sql() BEFORE the decimal cast on both sides.

    Physical:
    the per-user moment table is thousands of rows — broadcast back to
    events, so the screen costs one partial-agg shuffle of three
    numbers per user plus a scan-side joined filter, never a window
    sort of the fact table."""
    ev = table(spark, sf_dir, "events")
    dec = "decimal(27,6)"
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    j = (
        ev.select("event_id", "user_id", "value")
        .join(F.broadcast(s), "user_id")
        .withColumn("var", var)
        .withColumn("zscore", (F.col("value") - mean) / F.sqrt(F.col("var")))
    )
    return j.filter((F.col("var") > 0) & (F.abs(F.col("zscore")) > 3)).select(
        "event_id", "user_id", "value", "zscore"
    )


# --- cdc_apply -------------------------------------------------------------


@register(
    "cdc_apply",
    oracle="""
    WITH feed AS (
      SELECT o_orderkey AS key, 1 AS version,
             CASE WHEN o_orderkey % 100 = 0 THEN 'D' ELSE 'U' END AS op,
             'v1-' || lower(o_orderstatus) AS new_status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'v2-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 100 <> 0
    ), latest AS (
      SELECT key, op, new_status FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn
        FROM feed) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_custkey,
           COALESCE(l.new_status, b.o_orderstatus) AS status,
           (l.new_status IS NOT NULL)              AS updated
    FROM orders b LEFT JOIN latest l ON b.o_orderkey = l.key
    WHERE l.op IS DISTINCT FROM 'D'
    """,
    tags=("cdc", "merge", "join"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO, engine form: apply a CDC feed (upserts + deletes,
    multiple versions per key) to a base table with latest-wins
    semantics — the nightly-compaction half of a lakehouse CDC
    pipeline. Three steps, each the scalable shape: (1) collapse the
    feed to one winner per key (row_number over the version order —
    feed-sized shuffle, not base-sized); (2) anti/left join the BASE
    against the collapsed feed on the key — at 100 TB the feed is the
    small side and broadcasts, so the base table is never shuffled;
    (3) COALESCE updated columns. The feed here is derived
    deterministically from orders itself so the oracle can re-derive
    it; in production it's the readStream/CDC source. Delete filter
    uses null-safe comparison (op IS DISTINCT FROM 'D') so unmatched
    base rows — op NULL — survive. Version-2 updates deliberately skip
    the delete keys so the delete path is actually exercised (a v2
    upsert would otherwise resurrect every deleted key — which IS the
    correct latest-wins behavior, just not the interesting case)."""
    o = table(spark, sf_dir, "orders")
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
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy(F.desc("version"))
    latest = (
        f1.unionAll(f2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_status")
    )
    return (
        o.join(F.broadcast(latest), o.o_orderkey == latest.key, "left")
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce("new_status", "o_orderstatus").alias("status"),
            F.col("new_status").isNotNull().alias("updated"),
        )
    )


# --- cdc_scd2 --------------------------------------------------------------


# Shared by cdc_scd2 (the interval build) and cdc_snapshot_at (the
# point-in-time read over it).
_SQL_SCD2 = """
    WITH feed AS (
      SELECT o_orderkey AS key, o_orderdate AS eff_ts,
             'v1-' || lower(o_orderstatus) AS status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY,
             CASE WHEN o_orderkey % 60 = 0 THEN 'v1-' || lower(o_orderstatus)
                  ELSE 'v2-' || lower(o_orderstatus) END
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY,
             'v3-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 40 = 0
    ), ch AS (
      SELECT key, eff_ts, status,
             lag(status) OVER (PARTITION BY key ORDER BY eff_ts) AS prev
      FROM feed
    ), kept AS (
      SELECT key, eff_ts, status FROM ch
      WHERE prev IS NULL OR status <> prev
    )
    SELECT key, status, eff_ts AS valid_from,
           lead(eff_ts) OVER (PARTITION BY key ORDER BY eff_ts) AS valid_to,
           (lead(eff_ts) OVER (PARTITION BY key ORDER BY eff_ts) IS NULL)
             AS is_current
    FROM kept
    """


@register(
    "cdc_scd2",
    oracle=_SQL_SCD2,
    tags=("cdc", "scd2", "window"),
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build — the history half of the
    CDC pair (cdc_apply is the type-1 latest-wins snapshot): turn a
    change feed of (key, effective-time, attribute) into validity
    intervals [valid_from, valid_to) with an is_current flag, the shape
    every warehouse dimension load and feature-store history table
    needs. Consecutive no-change rows are suppressed first (lag over
    the per-key time order — a v2 record restating v1's value must NOT
    open a new interval; keys % 60 exercise exactly that), then
    valid_to = lead(eff_ts) and the open interval marks the current
    row.

    Scale shape: the feed is derived from orders (deterministic, so
    the oracle re-derives it — the cdc_apply pattern); both windows
    share one (key) partitioning and one (eff_ts) sort, so the whole
    build is a SINGLE feed-sized exchange + sort reused by lag and
    lead — never a self-join of the feed, and the base table is not
    involved at all. At 100 TB the feed is the small CDC side; the
    interval table appends partition-by-current-date.

    STREAMING face: streaming/stateful.py::scd2_closed_intervals builds
    the same interval table incrementally from an unbounded change
    stream (applyInPandasWithState; per-key state = the one open
    interval) — tests/test_streaming.py proves its emitted rows equal
    exactly this batch build's closed intervals once the stream drains."""
    from etl_cnpjs_spark.operators.relational import scd2_intervals

    v1, v2, v3 = scd2_feed_waves(spark, sf_dir)
    feed = v1.unionAll(v2).unionAll(v3)
    return scd2_intervals(feed, "key", "eff_ts", "status")


def scd2_feed_waves(spark: SparkSession, sf_dir: str):
    """The synthetic change feed behind cdc_scd2/cdc_snapshot_at, split
    into its three version waves (v1 at o_orderdate, v2 at +30 d, v3 at
    +60 d) — the split exists so the STREAMING face can replay the feed
    in log order wave-by-wave (tests/test_streaming.py), the ordering
    guarantee a real CDC log provides."""
    o = table(spark, sf_dir, "orders")

    def slice_(mod: int, ver: int):
        f = o.filter(F.col("o_orderkey") % mod == 0)
        if ver == 1:
            st = F.concat(F.lit("v1-"), F.lower("o_orderstatus"))
            ts = F.col("o_orderdate")
        elif ver == 2:
            st = F.when(
                F.col("o_orderkey") % 60 == 0,
                F.concat(F.lit("v1-"), F.lower("o_orderstatus")),
            ).otherwise(F.concat(F.lit("v2-"), F.lower("o_orderstatus")))
            ts = F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
        else:
            st = F.concat(F.lit("v3-"), F.lower("o_orderstatus"))
            ts = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        return f.select(
            F.col("o_orderkey").alias("key"),
            ts.alias("eff_ts"),
            st.alias("status"),
        )

    return slice_(10, 1), slice_(20, 2), slice_(40, 3)


_SNAPSHOT_TS = "1995-06-30 00:00:00"


@register(
    "cdc_snapshot_at",
    oracle=f"""
    WITH scd2 AS ({_SQL_SCD2})
    SELECT key, status, valid_from
    FROM scd2
    WHERE valid_from <= TIMESTAMP '{_SNAPSHOT_TS}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAPSHOT_TS}')
    """,
    tags=("cdc", "scd2", "asof"),
)
def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF read over the SCD2 interval table — "the dimension exactly
    as it stood at time T", the query every time-travel/lakehouse CDC
    story ends in (Delta/Iceberg snapshot reads have this semantics;
    here it is expressed against the interval table cdc_scd2 builds, so
    it works on ANY store). A point-in-time snapshot is a pure partition
    filter over [valid_from, valid_to): keys born after T fall out via
    valid_from <= T, superseded versions via valid_to > T, and the open
    (is_current) interval matches any T past its start.

    Scale shape: ZERO additional shuffles — the filter is residual on
    cdc_scd2's single feed-sized exchange. On a PERSISTED interval
    table partitioned by date(valid_from) the same predicate
    partition-prunes; the snapshot never replays the change feed (the
    naive AS-OF implementation) nor sorts per key again."""
    scd2 = cdc_scd2(spark, sf_dir)
    t = F.lit(_SNAPSHOT_TS).cast("timestamp")
    return scd2.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("key", "status", "valid_from")


# --- events_resample -------------------------------------------------------


@register(
    "events_resample",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM b),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2)
    SELECT g.user_id, g.hour_ts,
           COALESCE(h.n, 0)  AS n_events,
           h.sv              AS sum_value,
           last_value(h.sv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
    """,
    tags=("events", "timeseries", "resample"),
)
def events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: regularize each user's event
    stream onto a dense hourly grid (sequence + explode — the grid is
    derived, never collected), left-join the hourly aggregate, and
    forward-fill gaps with the last observed value (last() IGNORE
    NULLS over the per-user time order) — the hypertable
    continuous-aggregate / downsample shape every metrics store ships.
    Empty hours are visible as n_events=0 with a NULL raw sum and a
    carried filled_value.

    Distributed shape (r14 rework, guide §2.4 — measured vs the old
    grid-join form, value-identical at 3 SFs): the dense grid is
    DERIVED from the hourly aggregate itself, not joined onto it. One
    scan feeds one (user, hour) aggregate (map-side combined); a
    user-keyed window pair over the HOURLY grain computes the next
    observed hour (lead) and the running forward-fill (last ignore
    nulls — carried per OBSERVED row so an all-null-value hour fills
    from its predecessor exactly as the old grid window did); each
    observed row then explodes sequence(hour, next-1h) — its own cell
    plus the empty cells it owns. The old shape scanned events TWICE
    (bounds aggregate + hourly aggregate), joined grid onto hourly,
    and ran the fill window at GRID grain; this shape is one scan, the
    same two exchanges, one hourly-grain sort, no join. Hour sums
    accumulate in decimal (order-insensitive), and forward-fill copies
    values, so every filled cell is bit-identical in both engines."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sv"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("hour_ts")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    g = hourly.select(
        "user_id",
        "hour_ts",
        "n",
        "sv",
        F.lead("hour_ts").over(w).alias("__next"),
        F.last("sv", ignorenulls=True).over(wrun).alias("__ff"),
    )
    cells = g.select(
        "user_id",
        F.col("hour_ts").alias("__obs"),
        "n",
        "sv",
        "__ff",
        F.explode(
            F.when(
                F.col("__next").isNull(), F.array(F.col("hour_ts"))
            ).otherwise(
                F.expr("sequence(hour_ts, __next - interval 1 hour, interval 1 hour)")
            )
        ).alias("hour_ts"),
    )
    at_obs = F.col("hour_ts") == F.col("__obs")
    return cells.select(
        "user_id",
        "hour_ts",
        F.when(at_obs, F.col("n")).otherwise(F.lit(0).cast("long")).alias("n_events"),
        F.when(at_obs, F.col("sv")).alias("sum_value"),
        F.col("__ff").alias("filled_value"),
    )


# --- events_ohlc -----------------------------------------------------------


@register(
    "events_ohlc",
    oracle="""
    WITH r AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id)      AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events)
    SELECT user_id, hour_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value)                             AS high,
           MIN(value)                             AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           COUNT(*)                               AS n_events
    FROM r GROUP BY user_id, hour_ts
    """,
    tags=("events", "timeseries", "agg"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (user, hour) the opening value (earliest
    event), high, low, closing value (latest event), and count — the
    canonical financial/metrics bar aggregation. Open/close are
    first/last BY EVENT TIME with event_id breaking timestamp ties, so
    the bars are a deterministic function of the data in both engines;
    the formulation (row_number inside, conditional aggregate outside)
    is textually mirrored rather than trusting min_by/arg_min tie
    behavior across engines. One shuffle on (user, hour) for the
    windows; the final groupBy reuses that partitioning — high/low/
    count collapse map-side would need a second pass, so the bar grain
    keeps everything in the one windowed exchange."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    h = F.date_trunc("hour", "ts")
    wa = W.partitionBy("user_id", h).orderBy("ts", "event_id")
    wz = W.partitionBy("user_id", h).orderBy(F.desc("ts"), F.desc("event_id"))
    r = ev.select(
        "user_id",
        h.alias("hour_ts"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return r.groupBy("user_id", "hour_ts").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- events_streaks --------------------------------------------------------

_STREAK_MIN_DAYS = 3


@register(
    "events_streaks",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events),
    r AS (
      SELECT user_id, day,
             date_diff('day', DATE '2024-01-01', CAST(day AS DATE))
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM d)
    SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
           COUNT(*) AS streak_days
    FROM r GROUP BY user_id, island
    HAVING COUNT(*) >= {_STREAK_MIN_DAYS}
    """,
    tags=("events", "window", "islands"),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (streaks ≥ {_STREAK_MIN_DAYS} days) — the engagement-streak /
    uptime-run pattern, distinct from sessionization (which thresholds
    time gaps; islands require exact integer adjacency). The classic
    day-minus-row_number trick: within a user, consecutive days share
    (day_index - row_number), so one window plus one groupBy on that
    anchor finds every maximal run. All arithmetic is integer (day
    index anchored at an epoch date), so the grouping key is exact in
    both engines. Shuffle story: distinct collapses (user, day)
    map-side; the window and the groupBy share hash(user) clustering —
    the same one-exchange envelope as every window plan."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    r = d.withColumn(
        "island",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")) - rn,
    )
    return (
        r.groupBy("user_id", "island")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .filter(F.col("streak_days") >= _STREAK_MIN_DAYS)
        .select("user_id", "streak_start", "streak_end", "streak_days")
    )


# --- events_rolling_distinct -----------------------------------------------

_ROLLING_DAYS = 7


@register(
    "events_rolling_distinct",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    contrib AS (
      SELECT du.day + CAST(i.i AS INTEGER) AS metric_day, du.user_id
      FROM du CROSS JOIN (SELECT unnest(range({_ROLLING_DAYS})) AS i) i
    ),
    cal AS (SELECT DISTINCT CAST(ts AS DATE) AS metric_day FROM events)
    SELECT CAST(c.metric_day AS TIMESTAMP) AS metric_day,
           CAST(count(DISTINCT k.user_id) AS BIGINT) AS active_users
    FROM cal c JOIN contrib k ON k.metric_day = c.metric_day
    GROUP BY 1
    """,
    tags=("events", "window", "distinct", "north_star"),
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {N}-day distinct actives per day (the WAU curve; DAU is
    the N=1 special case) — the metric a naive plan computes as one
    window-distinct per day over raw events, which Spark can't even
    express (no DISTINCT in window frames) and which would re-scan N
    days of events per output day. Scalable form — the CONTRIBUTION
    EXPLODE: collapse events to distinct (day, user) first (the only
    event-grain shuffle), then each (day, user) fact contributes to
    exactly the N metric days it can influence (a constant ≤ N-way
    explode of the already-tiny day-grain frame), and one
    count_distinct per metric day finishes it. Days with zero events in
    the calendar simply don't appear (the calendar join pins that
    semantics — mirrored exactly in the oracle; metric_day is emitted
    as a timestamp, the events_retention convention for the DATE
    pandas-bridge divergence).

    At 100 TB: events→(day,user) is the dominant cost and is exactly
    one partial-aggregated exchange; the exploded contribution frame is
    |users|·|active days|·N — day-grain, orders of magnitude smaller
    than events — and the final distinct-count shuffles only that. The
    same shape computes rolling distinct over ANY window length by
    changing the explode constant, and sketches (HLL per day, unioned
    over the window — agg_hll_sketch's mergeability) replace the exact
    distinct when |users| itself is huge."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(_ROLLING_DAYS - 1))
        ).alias("i"),
        "day",
        "user_id",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("metric_day"), "user_id")
    cal = ev.select(F.col("ts").cast("date").alias("metric_day")).distinct()
    return (
        contrib.join(F.broadcast(cal), "metric_day")
        .groupBy(F.col("metric_day").cast("timestamp").alias("metric_day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


# --- events_downsample_bucket ------------------------------------------------

_DS_BUCKET_S = 900  # 15-minute buckets


@register(
    "events_downsample_bucket",
    oracle=f"""
    WITH r AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // {_DS_BUCKET_S}) * {_DS_BUCKET_S}
               AS bucket_s,
             event_id, value,
             row_number() OVER (PARTITION BY event_type,
                 (CAST(floor(epoch(ts)) AS BIGINT) // {_DS_BUCKET_S}) * {_DS_BUCKET_S}
                 ORDER BY value, event_id)           AS rn_lo,
             row_number() OVER (PARTITION BY event_type,
                 (CAST(floor(epoch(ts)) AS BIGINT) // {_DS_BUCKET_S}) * {_DS_BUCKET_S}
                 ORDER BY value DESC, event_id DESC) AS rn_hi
      FROM events)
    SELECT event_type, bucket_s, 'lo' AS role, event_id, value
    FROM r WHERE rn_lo = 1
    UNION ALL
    SELECT event_type, bucket_s, 'hi' AS role, event_id, value
    FROM r WHERE rn_hi = 1
    """,
    tags=("events", "timeseries", "downsample"),
)
def events_downsample_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max point downsampling (the LTTB-lite viz reduction): per
    (series, 15-min bucket) keep the ORIGINAL rows holding the bucket's
    extreme values — unlike events_ohlc this selects points (event_id
    preserved for drill-down), it doesn't aggregate them. Deterministic
    under value ties via the event_id tiebreaker, textually mirrored as
    row_number in both engines; a single-event bucket legitimately emits
    the same point twice (once per role) — identical multiset both sides.

    Scale story: one exchange on (event_type, bucket) serves both window
    sorts, and AQE reuses it across the two union branches (the filters
    differ but the windowed child is identical → ReusedExchange). Output
    is 2 rows per populated bucket — input-size-independent per bucket,
    the property that makes this the dashboard-backing reduction. Bucket
    is emitted as epoch seconds (bigint), not a timestamp, so the result
    is timezone-free in both engines."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    bucket = ((F.unix_timestamp("ts") / _DS_BUCKET_S).cast("bigint") * _DS_BUCKET_S)
    wlo = W.partitionBy("event_type", bucket).orderBy("value", "event_id")
    whi = W.partitionBy("event_type", bucket).orderBy(
        F.desc("value"), F.desc("event_id")
    )
    r = ev.select(
        "event_type",
        bucket.alias("bucket_s"),
        "event_id",
        "value",
        F.row_number().over(wlo).alias("rn_lo"),
        F.row_number().over(whi).alias("rn_hi"),
    )
    lo = r.filter(F.col("rn_lo") == 1).select(
        "event_type", "bucket_s", F.lit("lo").alias("role"), "event_id", "value"
    )
    hi = r.filter(F.col("rn_hi") == 1).select(
        "event_type", "bucket_s", F.lit("hi").alias("role"), "event_id", "value"
    )
    return lo.unionAll(hi)


# --- events_gap_detect -------------------------------------------------------

_GAP_US = 2 * 24 * 3600 * 1_000_000  # report gaps longer than 2 days


@register(
    "events_gap_detect",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events)
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           epoch_us(ts) - epoch_us(prev_ts) AS gap_us
    FROM s
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > {_GAP_US}
    """,
    tags=("events", "timeseries", "dq"),
)
def events_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data gap detection: per user, consecutive-event spacings
    exceeding 2 days, emitted as (gap_start, gap_end, gap_us) intervals
    — the time-series data-quality complement of events_sessionize
    (which groups activity; this reports the silence between). The lag
    window shares events_sessionize's total order (ts, event_id) so tied
    timestamps are deterministic.

    Scale story: one exchange on user_id, one per-partition sort, one
    lag — the minimal window envelope; the filter keeps only gap rows,
    so output is sparse by construction. Microsecond integer arithmetic
    end to end (unix_micros ≡ DuckDB epoch_us): no float boundary."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    return (
        s.filter(F.col("prev_ts").isNotNull() & (gap > _GAP_US))
        .select(
            "user_id",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap.alias("gap_us"),
        )
    )


# --- events_forecast_eval ----------------------------------------------------

_SEASON_S = 7 * 24 * 3600  # seasonal-naive lag: same hour last week


@register(
    "events_forecast_eval",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT a.event_type, a.hour_s, a.cnt AS actual, f.cnt AS forecast
      FROM h a JOIN h f
        ON a.event_type = f.event_type AND a.hour_s = f.hour_s + {_SEASON_S})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                        AS n_hours,
           CAST(SUM(abs(actual - forecast)) AS BIGINT)     AS abs_err_sum,
           CAST(SUM(actual - forecast) AS BIGINT)          AS bias_sum,
           CAST(SUM(abs(actual - forecast)) AS BIGINT)
             * 1000000 // CAST(COUNT(*) AS BIGINT)         AS mae_ppm
    FROM j GROUP BY event_type
    """,
    tags=("events", "timeseries", "forecast", "ml"),
)
def events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: the seasonal-naive baseline (ŷ(h) = actual at
    h − 1 week) evaluated against realized hourly volumes per series —
    the evaluation harness every demand/traffic forecasting pipeline
    runs, and the baseline any model must beat. Reported per series:
    matched hours, total absolute error, signed bias, and MAE in
    parts-per-million (bigint DIV — sharp edge #8's portable ratio
    form; counts are integers so the whole key is float-free).

    Scale story: the hourly rollup is one map-side-combined aggregate
    (hour grain, input-size-independent output); the forecast join is a
    self equi-join on (series, shifted hour) — same-keyed, so AQE plans
    both sides from one exchange-sized frame; the metric rollup
    collapses to |series| rows. No window over raw events, no explode:
    everything past the first aggregate is hour-grain."""
    ev = table(spark, sf_dir, "events")
    hour_s = (F.unix_timestamp("ts") / 3600).cast("bigint") * 3600
    h = (
        ev.select("event_type", hour_s.alias("hour_s"))
        .groupBy("event_type", "hour_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = h.select("event_type", "hour_s", F.col("cnt").alias("actual"))
    f_ = h.select(
        F.col("event_type").alias("f_type"),
        (F.col("hour_s") + _SEASON_S).alias("f_hour"),
        F.col("cnt").alias("forecast"),
    )
    j = a.join(
        f_,
        (F.col("event_type") == F.col("f_type")) & (F.col("hour_s") == F.col("f_hour")),
    )
    d = F.col("actual") - F.col("forecast")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(F.abs(d)).cast("bigint").alias("abs_err_sum"),
        F.sum(d).cast("bigint").alias("bias_sum"),
    ).select(
        "event_type",
        "n_hours",
        "abs_err_sum",
        "bias_sum",
        F.expr("abs_err_sum * 1000000 DIV n_hours").alias("mae_ppm"),
    )


# --- events_markov_transitions ----------------------------------------------


@register(
    "events_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    r AS (
      SELECT prev_type,
             CAST(SUM(cnt) AS BIGINT) AS row_total
      FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.cnt,
           t.cnt * 1000000 // r.row_total AS p_ppm
    FROM t JOIN r ON t.prev_type = r.prev_type
    """,
    tags=("events", "sequence", "ml", "stats"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition statistics over user event
    sequences: for each (prev → next) event-type pair, the observed
    count and row-normalized transition probability in ppm — the
    sequence-modeling sufficient statistic behind next-action
    prediction, funnel leak analysis, and bot detection (a user whose
    transition row diverges from the population matrix). Sequences
    order by (ts, event_id) — the same total order sessionize and
    gap_detect share — so tied timestamps are deterministic.

    Scale story: one user-keyed window exchange (the lag), then the
    pair rollup collapses to |types|² rows map-side and the row-total
    join runs on that tiny frame — at any input volume everything past
    the lag is alphabet-sized. Probabilities are bigint DIV ppm (sharp
    edge #8): float-free, so the oracle holds with no quantization."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = (
        s.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    r = t.groupBy("prev_type").agg(F.sum("cnt").cast("bigint").alias("row_total"))
    return (
        t.join(F.broadcast(r), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "cnt",
            F.expr("cnt * 1000000 DIV row_total").alias("p_ppm"),
        )
    )


# --- events_interpolate_linear ----------------------------------------------


def _interp_oracle() -> str:
    interp = (
        "pv + (nv - pv) * (CAST(epoch_us(hour_ts) - epoch_us(pt) AS DOUBLE)"
        " / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))"
    )
    return f"""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM b),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT gr.user_id, gr.hour_ts, h.sv,
             last_value(h.sv IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN h.sv IS NOT NULL THEN gr.hour_ts END
                        IGNORE NULLS) OVER wb      AS pt,
             first_value(h.sv IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN h.sv IS NOT NULL THEN gr.hour_ts END
                         IGNORE NULLS) OVER wf     AS nt
      FROM grid gr LEFT JOIN hourly h
        ON gr.user_id = h.user_id AND gr.hour_ts = h.hour_ts
      WINDOW
        wb AS (PARTITION BY gr.user_id ORDER BY gr.hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY gr.user_id ORDER BY gr.hour_ts
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, hour_ts, sv AS observed,
           CASE WHEN sv IS NOT NULL THEN sv
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE floor(({interp}) * 1e6 + 0.5) / 1e6 END AS interp_value
    FROM g
    """


@register(
    "events_interpolate_linear",
    oracle=_interp_oracle(),
    tags=("events", "timeseries", "resample", "ml"),
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the dense hourly grid — the
    feature-engineering companion to events_resample's forward fill
    (ffill carries stale values into gaps; ML feature pipelines usually
    want the line between the neighbors instead). Edge cells clamp to
    the nearest observation; observed cells pass through their exact
    value (quantization applies only to genuinely interpolated cells,
    so the key never perturbs real data).

    Scale story (r14 rework, guide §2.4 — the events_resample envelope):
    the dense grid is DERIVED from the hourly aggregate itself, not
    joined onto it. One scan feeds one (user, hour) aggregate; the
    neighbor carries run at HOURLY grain inside one user-keyed
    exchange — an ascending running frame for (pv, pt) plus lead(next
    observed hour), and a descending running frame ENDING AT -1 for
    (nv, nt) strictly after the row (so an all-null-value hour looks
    through itself exactly as the old grid windows did); each observed
    row then explodes sequence(hour, next-1h), and every cell it owns
    shares its carries (no observation sits between two consecutive
    observed hours, so the per-cell prev/next ARE the row's). The old
    shape scanned events twice, joined the grid onto hourly, and
    sorted twice at GRID grain; this is one scan, one exchange, two
    hourly-grain sorts, no join — value-identical at 3 SFs. The
    descending pass stays a RUNNING frame (a [current, +inf) frame is
    Spark-quadratic — the r12 measured 7× note). The interpolation
    weight is an exact integer µs ratio in one mirrored double
    expression; output quantizes to 1e-6 (floor form, never round())."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sv"))
    w = W.partitionBy("user_id").orderBy("hour_ts")
    wb = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # next-side carries over reversed order, frame ending 1 BEFORE the
    # current row: the nearest LATER observed hour with a non-null sum
    wfd = (
        W.partitionBy("user_id")
        .orderBy(F.desc("hour_ts"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    obs_ts = F.when(F.col("sv").isNotNull(), F.col("hour_ts"))
    g = hourly.select(
        "user_id",
        F.col("hour_ts").alias("__obs"),
        "sv",
        F.lead("hour_ts").over(w).alias("__next"),
        F.last("sv", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(wb).alias("pt"),
        F.last("sv", ignorenulls=True).over(wfd).alias("nv"),
        F.last(obs_ts, ignorenulls=True).over(wfd).alias("nt"),
    )
    cells = g.select(
        "user_id",
        "__obs",
        "sv",
        "pv",
        "pt",
        "nv",
        "nt",
        F.explode(
            F.when(
                F.col("__next").isNull(), F.array(F.col("__obs"))
            ).otherwise(
                F.expr("sequence(__obs, __next - interval 1 hour, interval 1 hour)")
            )
        ).alias("hour_ts"),
    )
    # the cell's own observation: the owning row's sum at the observed
    # hour, NULL at the gap cells it owns
    sv_c = F.when(F.col("hour_ts") == F.col("__obs"), F.col("sv"))
    num = (F.unix_micros(F.col("hour_ts")) - F.unix_micros(F.col("pt"))).cast("double")
    den = (F.unix_micros(F.col("nt")) - F.unix_micros(F.col("pt"))).cast("double")
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (num / den)
    return cells.select(
        "user_id",
        "hour_ts",
        sv_c.alias("observed"),
        F.when(sv_c.isNotNull(), sv_c)
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.floor(interp * 1e6 + 0.5) / 1e6)
        .alias("interp_value"),
    )


# --- events_attribution -----------------------------------------------------
#
# Last-touch attribution: every purchase is credited to the most recent
# PRECEDING touch event (click or view) by the same user within a 72 h
# lookback, else 'none'. The running carry-forward is the
# (UNBOUNDED PRECEDING, 1 PRECEDING) frame — the cheap incremental
# window class (SCALE.md "Window-frame discipline"), never a
# forward-looking frame.


@register(
    "events_attribution",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS) OVER w         AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT CASE WHEN touch_ts IS NULL
                  OR touch_ts < ts - INTERVAL {_ATTR_LOOKBACK_H} HOUR
                THEN 'none' ELSE touch_type END AS attributed,
           CAST(count(*) AS BIGINT) AS purchases,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS attributed_value
    FROM s WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("events", "sequence", "window", "attribution"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: credit each purchase to the
    most recent preceding click/view by the same user within a 72-hour
    lookback ('none' beyond it), then roll purchases and decimal-exact
    purchase value up per attributed channel. Sequence order is the
    (ts, event_id) total order the whole events family shares, so tied
    timestamps attribute deterministically. The STREAMING face
    (streaming/stateful.py::last_touch_attribution — 2 scalars of state
    per user, append mode) emits the same attribution per purchase over
    an unbounded stream; tests/test_streaming.py pins its rollup to
    this batch result.

    Scale story: ONE user-keyed window exchange does all the work — the
    carry-forward of the last touch is a running
    (unboundedPreceding, -1) frame, the incremental class, never the
    quadratic unbounded-following class (SCALE.md). The final rollup is
    alphabet-sized (3 rows). Value totals accumulate in DECIMAL(27,6)
    so the double output is partition-order-independent."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    touch_ts = F.when(F.col("event_type").isin("click", "view"), F.col("ts"))
    s = ev.select(
        "event_type",
        "ts",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    ).filter(F.col("event_type") == "purchase")
    attributed = F.when(
        F.col("touch_ts").isNull()
        | (
            F.col("touch_ts")
            < F.col("ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_H} HOURS")
        ),
        F.lit("none"),
    ).otherwise(F.col("touch_type"))
    return (
        s.groupBy(attributed.alias("attributed"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("purchases"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


# --- events_anomaly_mad -----------------------------------------------------
#
# Robust (median/MAD) outlier screen — the heavy-tail-safe twin of
# events_anomaly's mean/stddev z-score. Median-exactness discipline:
# values quantize to integer micro-units FIRST, and a median of
# integers interpolates only at d ∈ {0, 0.5} — (lo+hi)/2 is the same
# exact double in every formulation — so both engines' linear-
# interpolation quantiles are bit-identical with no libm involvement.

_MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma under normality


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH q AS (
      SELECT user_id, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      FROM events),
    med AS (
      SELECT user_id, quantile_cont(v, 0.5) AS med,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY user_id),
    dev AS (
      SELECT q.user_id, med.med, med.n, abs(q.v - med.med) AS ad
      FROM q JOIN med ON q.user_id = med.user_id),
    mad AS (
      SELECT user_id, any_value(med) AS med, any_value(n) AS n,
             quantile_cont(ad, 0.5) AS mad, max(ad) AS max_ad
      FROM dev GROUP BY user_id)
    SELECT user_id, n,
           med / 1e6 AS median_value,
           mad / 1e6 AS mad_value,
           CASE WHEN mad = 0 THEN NULL
                ELSE {quantize_sql(f'max_ad / (mad * {_MAD_K})')} END AS max_robust_z
    FROM mad
    """,
    tags=("events", "stats", "dq", "robust"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier profile: median, MAD (median absolute
    deviation), and the worst point's robust z-score
    max|v - med| / (MAD · 1.4826) — the screen that, unlike
    events_anomaly's mean/stddev version, a single corrupt reading
    cannot drag (breakdown point 50% vs 0%). The pipeline DQ pattern:
    flag users whose max_robust_z blows past ~3.5 for review.

    Float portability: values quantize to integer micro-units BEFORE
    any statistic, so each median interpolates integers at d ∈ {0, 0.5}
    — exact in IEEE no matter how the engine writes the interpolation —
    and every downstream op (subtract, abs, one divide, quantize) is
    the same fixed double sequence in both engines. No stddev, no libm.

    Scale story: two grouped aggregates and one join, ALL keyed on
    user_id — one partitioning reused end-to-end (the med join-back is
    co-partitioned with both groupBys; AQE plans it shuffle-free on the
    agg side). Exact grouped medians are a per-key sort (spillable),
    the same envelope agg_quantile already carries at 100 TB."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        F.floor(F.col("value") * 1e6 + 0.5).cast("bigint").alias("v"),
    )
    med = q.groupBy("user_id").agg(
        F.percentile("v", F.lit(0.5)).alias("med"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dev = q.join(med, "user_id").select(
        "user_id", "med", "n", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("user_id").agg(
        F.any_value("med").alias("med"),
        F.any_value("n").alias("n"),
        F.percentile("ad", F.lit(0.5)).alias("mad"),
        F.max("ad").alias("max_ad"),
    )
    return mad.select(
        "user_id",
        "n",
        (F.col("med") / 1e6).alias("median_value"),
        (F.col("mad") / 1e6).alias("mad_value"),
        F.when(F.col("mad") == 0, F.lit(None).cast("double"))
        .otherwise(quantize(F.col("max_ad") / (F.col("mad") * _MAD_K)))
        .alias("max_robust_z"),
    )


# --- events_survival_hazard ---------------------------------------------------
#
# Discrete-time churn hazard — the Kaplan-Meier sufficient statistic
# (at-risk n_t, events d_t, hazard d_t/n_t) WITHOUT the float survival
# product: downstream can fold S(t) = Π(1 - h) however it likes; the
# engine emits exact integers and bigint-DIV ppm only.

_SURV_EPOCH = "2024-01-01"


@register(
    "events_survival_hazard",
    oracle=f"""
    WITH lastd AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '{_SURV_EPOCH}', CAST(max(ts) AS DATE)) AS BIGINT) AS last_day
      FROM events GROUP BY user_id),
    d AS (
      SELECT last_day AS day, CAST(count(*) AS BIGINT) AS churned
      FROM lastd GROUP BY 1)
    SELECT day, churned, at_risk,
           churned * 1000000 // at_risk AS hazard_ppm
    FROM (
      SELECT day, churned,
             CAST(SUM(churned) OVER (ORDER BY day DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk
      FROM d)
    """,
    tags=("events", "stats", "survival", "ml"),
)
def events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival/churn table: for each day (since the
    corpus epoch), how many users were last seen that day (churned),
    how many were still at risk (last seen that day or later), and the
    hazard d/n in ppm — the Kaplan-Meier sufficient statistic. Emitting
    (d_t, n_t, hazard) instead of the survival curve keeps the operator
    float-free (bigint DIV ppm); S(t) is a trivial downstream fold.

    Scale story: one user-keyed max aggregate (map-side combined), then
    everything is day-grain — ≤ a few thousand rows at ANY input
    volume. The at-risk count is a suffix sum = running frame over
    DESCENDING day (the cheap incremental window class, SCALE.md),
    computed on the day-grain frame, so the single-partition window
    WARN is day-table-sized, not data-sized."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    lastd = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.lit(_SURV_EPOCH).cast("date"))
        .cast("bigint")
        .alias("last_day")
    )
    d = lastd.groupBy(F.col("last_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("churned")
    )
    w = W.orderBy(F.desc("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    at_risk = F.sum("churned").over(w).cast("bigint")
    return d.select(
        "day", "churned", at_risk.alias("at_risk")
    ).select(
        "day",
        "churned",
        "at_risk",
        F.expr("churned * 1000000 DIV at_risk").alias("hazard_ppm"),
    )


# --- events_cohort_matrix ---------------------------------------------------
#
# events_retention reports fixed D1/D7 checkpoints; this is
# the full weekly cohort × age matrix a growth dashboard actually
# renders: cohort week (user's first active week) by week-age, active
# users and retention rate (ppm). Week index = epoch-days // 7 — a pure
# integer bucketing both engines compute identically.


@register(
    "events_cohort_matrix",
    oracle="""
    WITH weeks AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
      FROM events),
    cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id),
    m AS (
      SELECT c.cohort_week, w.week - c.cohort_week AS week_age,
             COUNT(DISTINCT w.user_id) AS n_active
      FROM weeks w JOIN cohort c ON w.user_id = c.user_id
      GROUP BY 1, 2),
    sz AS (SELECT cohort_week, n_active AS cohort_size FROM m WHERE week_age = 0)
    SELECT CAST(m.cohort_week AS BIGINT)  AS cohort_week,
           CAST(m.week_age AS BIGINT)     AS week_age,
           CAST(m.n_active AS BIGINT)     AS n_active,
           CAST(s.cohort_size AS BIGINT)  AS cohort_size,
           m.n_active * 1000000 // s.cohort_size AS retention_ppm
    FROM m JOIN sz s ON m.cohort_week = s.cohort_week
    """,
    tags=("events", "retention", "analytics"),
)
def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix. Shapes: distinct (user, week)
    collapses the event volume first (the same reducer
    events_retention uses); the per-user cohort min is a window over
    user_id whose partitioning AQE chains off distinct's (no
    groupBy+self-join back, see the inline note); the matrix rollup
    then shuffles only (cohort_week, user) pairs; cohort_size is the age-0 cell
    read back via a max-when window over the tiny matrix itself — no
    join at all (the self-join form clones the whole upstream subtree;
    measured 6 exchanges vs 4, see the inline note).
    All-integer output: week indices, counts, bigint-DIV ppm."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    weeks = (
        ev.select(
            "user_id",
            F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') DIV 7 AS BIGINT)").alias(
                "week"
            ),
        )
        .distinct()
    )
    # cohort assignment as a per-user window min — no groupBy+self-join
    # (saves two exchanges; the window's user_id partitioning is the
    # sub-partitioning of distinct's (user_id, week), so AQE chains them)
    wk = weeks.withColumn(
        "cohort_week", F.min("week").over(W.partitionBy("user_id"))
    )
    m = wk.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_age")
    ).agg(F.countDistinct("user_id").alias("n_active"))
    # cohort_size = the age-0 cell, read back via a window over the tiny
    # matrix itself — NOT a self-join (Catalyst would clone the whole
    # scan→distinct→window subtree for the filtered branch; measured 6
    # exchanges that way vs 4 this way). Age 0 always exists: each
    # cohort's defining user is active in their own first week.
    return m.select(
        "cohort_week",
        "week_age",
        "n_active",
        F.max(F.when(F.col("week_age") == 0, F.col("n_active")))
        .over(W.partitionBy("cohort_week"))
        .alias("cohort_size"),
    ).withColumn("retention_ppm", F.expr("n_active * 1000000 DIV cohort_size"))


# --- events_ab_lift ----------------------------------------------------------
#
# A/B conversion readout: deterministic 50/50 variant assignment by
# multiplicative user-id hash (the sample_hash family's Knuth constant
# — stable across runs and engines, no random()), user-grain conversion
# (any purchase), rates and cross-variant lift in bigint-DIV ppm.

_KNUTH = 2654435761
_MOD = 4294967296  # 2^32
_HALF = 2147483648  # 2^31


@register(
    "events_ab_lift",
    oracle=f"""
    WITH conv AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    u AS (
      SELECT CASE WHEN (user_id * {_KNUTH}) % {_MOD} < {_HALF}
                  THEN 'A' ELSE 'B' END AS variant,
             converted
      FROM conv),
    v AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT)       AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT) AS cr_ppm
      FROM u GROUP BY variant)
    SELECT a.variant, a.n_users, a.n_converted, a.cr_ppm,
           CAST(CASE WHEN b.cr_ppm = 0 THEN NULL
                ELSE a.cr_ppm * 1000000 // b.cr_ppm END AS BIGINT)
             AS lift_vs_other_ppm
    FROM v a JOIN v b ON a.variant <> b.variant
    """,
    tags=("events", "analytics", "sample"),
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant conversion + lift. Shapes: one shuffle to user grain
    (map-side partial max), variant derived from the key — no second
    shuffle for assignment; the 2-row variant table self-joins as a
    broadcast. All-integer rates; lift guards the zero-rate edge with
    NULL in both engines."""
    ev = table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    v = (
        conv.select(
            F.when((F.col("user_id") * _KNUTH) % _MOD < _HALF, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").alias("n_converted"),
            F.expr("sum(converted) * 1000000 DIV count(*)").alias("cr_ppm"),
        )
    )
    other = v.select(
        F.col("variant").alias("variant_b"), F.col("cr_ppm").alias("cr_ppm_b")
    )
    return (
        v.join(F.broadcast(other), F.col("variant") != F.col("variant_b"))
        .select(
            "variant",
            "n_users",
            "n_converted",
            "cr_ppm",
            F.when(F.col("cr_ppm_b") == 0, F.lit(None)).otherwise(
                F.expr("cr_ppm * 1000000 DIV cr_ppm_b")
            ).alias("lift_vs_other_ppm"),
        )
    )


# --- events_pattern_match ---------------------------------------------------
#
# MATCH_RECOGNIZE / CEP-lite: encode each user's event history as a
# character sequence under a total (ts, event_id) order and run a regex
# over it. The pattern here: a signup followed by at least one click and
# then a purchase, with NO error anywhere between the signup and the
# purchase — the "clean conversion" question a funnel with per-step
# windows can't express (events_funnel counts ordered steps; the [^e]
# classes assert an exclusion BETWEEN steps).

_PM_CASES = [
    ("signup", "s"),
    ("click", "c"),
    ("purchase", "p"),
    ("error", "e"),
]
_PM_REGEX = "s[^e]*c[^e]*p"


@register(
    "events_pattern_match",
    oracle=f"""
    WITH ch AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                             WHEN 'purchase' THEN 'p' WHEN 'error' THEN 'e'
                             ELSE 'v' END AS ch
      FROM events),
    s AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS seq
      FROM ch GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           regexp_matches(seq, '{_PM_REGEX}') AS converted_clean
    FROM s
    """,
    tags=("events", "cep", "pattern"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-over-sequence event pattern matching (the CEP /
    MATCH_RECOGNIZE shape, composed from primitives Spark already has):
    per-user character encoding -> ordered collect -> one rlike. The
    sequence is built with array_sort(collect_list(struct(ts, event_id,
    ch))) — a total order, so the string is deterministic — and the
    regex engines agree because the pattern uses only literals and
    negated character classes (portable RE subset). Distributed shape:
    ONE hash(user_id) exchange; per-user state is its event string
    (bounded by history length — same per-key-payload class as
    agg_collect). The UNBOUNDED-stream face is real, not a seam: the
    same pattern runs as an incremental maximal-progress NFA carrying 3
    ints of per-user state (streaming/stateful.py::cep_clean_conversion,
    applyInPandasWithState), proven to converge to THIS batch verdict in
    tests/test_streaming.py::test_streaming_cep_matches_batch_pattern_match."""
    ev = table(spark, sf_dir, "events")
    ch = F.col("event_type")
    mapped = None
    for k, v in _PM_CASES:
        mapped = (
            F.when(ch == k, v) if mapped is None else mapped.when(ch == k, v)
        )
    mapped = mapped.otherwise("v")
    seq = (
        ev.select("user_id", "ts", "event_id", mapped.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts").alias("t"),
                                F.col("event_id").alias("e"),
                                F.col("ch").alias("ch"),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
            ).alias("seq")
        )
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.col("seq").rlike(_PM_REGEX).alias("converted_clean"),
    )


# --- events_concurrency -----------------------------------------------------
#
# Sweep-line interval concurrency — "how many sessions were live at
# once" — the Allen-interval aggregate behind capacity planning and
# concurrency SLAs. Each click opens a 10-minute half-open interval
# [ts, ts+600s); concurrency at any instant is (starts so far) −
# (ends so far). The distributed shape is a TWO-LEVEL PREFIX SUM: a
# per-day local running sum (hash(day) exchange, parallel) plus a
# cumulative carry-in of whole-day totals (a |days|-row window —
# trivially small), summed. The naive form is ONE global-order window
# (a single task at any scale); the oracle runs exactly that naive
# form, proving the two-level decomposition exact.

_CONC_INTERVAL_S = 600


@register(
    "events_concurrency",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, ts AS s, ts + INTERVAL {_CONC_INTERVAL_S} SECOND AS e
      FROM events WHERE event_type = 'click'),
    pts AS (
      SELECT s AS t, 1 AS d, event_id FROM iv
      UNION ALL
      SELECT e AS t, -1 AS d, event_id FROM iv),
    run AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM pts)
    SELECT date_trunc('hour', t) AS hour_ts,
           CAST(MAX(cc) AS BIGINT) AS max_concurrency
    FROM run GROUP BY 1
    """,
    tags=("events", "interval", "sweep"),
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent 10-minute click sessions per hour. Tie discipline:
    at the same instant an END (d=-1) processes before a START (d=+1) —
    half-open [s,e) semantics — via ORDER BY (t, d, event_id), which
    both engines apply identically. Scale shape: the local running sum
    partitions by calendar day (parallel), day totals cumulate in a
    second window over |days| rows (the classic two-level scan — the
    carry-in), and their sum is the global running concurrency; the
    oracle computes the single global-order window instead, so a green
    hash PROVES prefix-sum decomposition correctness, not just
    arithmetic."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    iv = ev.select(
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_CONC_INTERVAL_S} SECONDS")).alias("e"),
    )
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("d"), "event_id"
    ).unionByName(iv.select(F.col("e").alias("t"), F.lit(-1).alias("d"), "event_id"))
    day = F.date_trunc("day", F.col("t"))
    w_local = (
        Window.partitionBy(day)
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.withColumn("cc_local", F.sum("d").over(w_local)).withColumn(
        "__day", day
    )
    day_tot = (
        pts.groupBy(day.alias("__day")).agg(F.sum("d").alias("dt"))
    )
    w_days = (
        Window.orderBy("__day").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_tot.withColumn(
        "carry", F.coalesce(F.sum("dt").over(w_days), F.lit(0))
    ).select("__day", "carry")
    run = local.join(F.broadcast(carry), "__day").select(
        "t", (F.col("cc_local") + F.col("carry")).alias("cc")
    )
    return run.groupBy(F.date_trunc("hour", "t").alias("hour_ts")).agg(
        F.max("cc").cast("bigint").alias("max_concurrency")
    )


# --- events_change_points ---------------------------------------------------
#
# Mean-shift detection on regularized per-type hourly counts: compare
# the W hours BEFORE each hour against the W hours AFTER it (two rows
# windows over a dense hour grid — the offline two-sample form of
# CUSUM). All-integer arithmetic: counts, sums, and an absolute-diff
# threshold, so the flag is bit-portable.

_CP_W = 3
_CP_THRESHOLD = 30  # |sum_after - sum_before| in events


@register(
    "events_change_points",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', min(ts)) AS h0,
                         date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY event_type),
    grid AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM b),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    dense AS (
      SELECT g.event_type, g.hour_ts, COALESCE(h.n, 0) AS n
      FROM grid g LEFT JOIN hourly h
        ON g.event_type = h.event_type AND g.hour_ts = h.hour_ts),
    w AS (
      SELECT event_type, hour_ts, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY hour_ts
                          ROWS BETWEEN {_CP_W} PRECEDING AND 1 PRECEDING) AS prev_n,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY hour_ts
                          ROWS BETWEEN {_CP_W} PRECEDING AND 1 PRECEDING) AS prev_c,
             SUM(n) OVER (PARTITION BY event_type ORDER BY hour_ts
                          ROWS BETWEEN 1 FOLLOWING AND {_CP_W} FOLLOWING) AS next_n,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY hour_ts
                          ROWS BETWEEN 1 FOLLOWING AND {_CP_W} FOLLOWING) AS next_c
      FROM dense)
    SELECT event_type, hour_ts,
           CAST(prev_n AS BIGINT) AS prev_n, CAST(next_n AS BIGINT) AS next_n,
           (abs(next_n - prev_n) >= {_CP_THRESHOLD}) AS is_change
    FROM w WHERE prev_c = {_CP_W} AND next_c = {_CP_W}
    """,
    tags=("events", "timeseries", "changepoint"),
)
def events_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-window mean-shift changepoints per event type. The hour grid
    densifies from a per-type bounds aggregate (sequence + explode — no
    collect), missing hours count 0 (a burst FROM silence is a change
    too); edge hours without full windows are excluded, not flagged on
    partial evidence. Distributed shape: hourly counts partial-agg
    map-side; the grid explode is narrow; both rolling windows share
    ONE hash(event_type) exchange and sort (Catalyst plans them in a
    single Window node). The streaming face of this is a 2W-hour
    sliding aggregate with a watermark — stream_sliding's shape on the
    derived count stream."""
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = b.select(
        "event_type",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    dense = grid.join(hourly, ["event_type", "hour_ts"], "left").select(
        "event_type", "hour_ts", F.coalesce("n", F.lit(0)).alias("n")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-_CP_W, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(1, _CP_W)
    )
    w = dense.select(
        "event_type",
        "hour_ts",
        F.sum("n").over(wp).alias("prev_n"),
        F.count(F.lit(1)).over(wp).alias("prev_c"),
        F.sum("n").over(wn).alias("next_n"),
        F.count(F.lit(1)).over(wn).alias("next_c"),
    )
    return (
        w.filter((F.col("prev_c") == _CP_W) & (F.col("next_c") == _CP_W))
        .select(
            "event_type",
            "hour_ts",
            F.col("prev_n").cast("bigint").alias("prev_n"),
            F.col("next_n").cast("bigint").alias("next_n"),
            (F.abs(F.col("next_n") - F.col("prev_n")) >= _CP_THRESHOLD).alias(
                "is_change"
            ),
        )
    )


# --- events_top_paths -------------------------------------------------------


_PATHS_K = 10


@register(
    "events_top_paths",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p AS (
      SELECT event_type || '>' || s2 || '>' || s3 AS path, COUNT(*) AS n
      FROM o WHERE s3 IS NOT NULL GROUP BY 1)
    SELECT path, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT) AS rk
    FROM p ORDER BY n DESC, path LIMIT {_PATHS_K}
    """,
    tags=("events", "paths", "analytics"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k 3-step user journeys (the Sankey/flow primitive): lead×2
    over each user's (ts, event_id)-ordered stream turns every event
    into the path it starts; one count + top-k ranks them. Complements
    events_markov_transitions (1-step transition matrix) with actual
    multi-step route volume. Shapes: ONE user_id window exchange, one
    path-count exchange, TakeOrderedAndProject for the top-k; ties
    rank by path text so the cut is total-ordered."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    p = (
        o.filter(F.col("s3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "s2", "s3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        p.withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("path")))
            .cast("int"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(_PATHS_K)
    )


# --- events_conversion_lag --------------------------------------------------


@register(
    "events_conversion_lag",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts) - epoch_us(s.signup_ts)) AS lag_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
           CAST(quantile_disc(lag_us, 0.5) AS BIGINT) AS p50_lag_us,
           CAST(quantile_disc(lag_us, 0.9) AS BIGINT) AS p90_lag_us,
           CAST(MAX(lag_us) AS BIGINT) AS max_lag_us
    FROM p
    """,
    tags=("events", "funnel", "latency"),
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: each user's FIRST signup to their
    FIRST subsequent purchase, lag in exact integer microseconds, then
    the discrete percentile profile (n, min, p50, p90, max) — the
    latency-funnel rollup growth teams watch next to conversion rate
    (events_funnel counts WHO converts; this measures HOW FAST).
    Shapes: two per-user aggregates share one hash(user_id) exchange
    path; the percentile is an exact sort-agg over |converted users|
    rows (percentile_disc ≡ quantile_disc — a picked element, no
    interpolation, so integer µs stay exact)."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros("ts") - F.unix_micros("signup_ts")
            ).alias("lag_us")
        )
    )
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("lag_us").cast("bigint").alias("min_lag_us"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p90_lag_us"),
        F.max("lag_us").cast("bigint").alias("max_lag_us"),
    )


# --- events_ab_ttest --------------------------------------------------------


@register(
    "events_ab_ttest",
    oracle="""
    WITH q AS (
      SELECT user_id % 2 AS arm,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    m AS (
      SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM q GROUP BY arm),
    st AS (
      SELECT arm, n,
             CAST(sx AS DOUBLE) / n / 1e6 AS mean,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               / (n - 1) / 1e12 AS var
      FROM m),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
             a.var / a.n + b.var / b.n AS se2
      FROM st a JOIN st b ON a.arm = 0 AND b.arm = 1)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           (mean_b - mean_a) / sqrt(se2) AS t_stat
    FROM w
    """,
    tags=("events", "abtest", "stats"),
)
def events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic for the A/B purchase-value experiment (the
    significance companion to events_ab_lift's effect size). Exactness
    discipline: values micro-quantize to bigint, so n/Σx/Σx² are exact
    integers; mean and variance derive by a FIXED sequence of double
    ops on those integers, and sqrt is IEEE-exact — every float in the
    output is bit-identical cross-engine without quantization. Shapes:
    one 2-group partial aggregate (map-side combined), then a 2-row
    self-join — the entire test costs one scan whatever the event
    volume."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    q = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint").alias("x"),
    )
    # Σx / Σx² accumulate in DECIMAL(38,0): per-row x ≤ 1e8 so x² ≤ 1e16,
    # and a bigint Σx² overflows past ~900 purchase rows × sf — it DID at
    # sf0.1 (caught by the round-6 bench). DuckDB's SUM(BIGINT) is already
    # HUGEINT-exact; decimal matches it bit-for-bit after the double cast.
    m = q.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    sxd = F.col("sx").cast("double")
    st = m.select(
        "arm",
        "n",
        (sxd / F.col("n") / F.lit(1e6)).alias("mean"),
        (
            (F.col("sxx").cast("double") - sxd * sxd / F.col("n"))
            / (F.col("n") - 1)
            / F.lit(1e12)
        ).alias("var"),
    )
    a = st.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = st.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    w = a.crossJoin(b)
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "mean_a",
        "mean_b",
        (
            (F.col("mean_b") - F.col("mean_a"))
            / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"))
        ).alias("t_stat"),
    )


# --- events_seasonality -----------------------------------------------------
#
# Day-of-week × hour-of-day activity profile per event type — the
# seasonality heatmap behind capacity planning and anomaly baselines
# (events_anomaly's hourly z-scores assume this profile exists). DOW is
# computed as (epoch_days + 4) % 7 (epoch day 0 = Thursday; 0 = Sunday)
# — pure integer arithmetic, immune to the engines' differing
# dayofweek() origin conventions.


_SEASON_SQL = """
    WITH b AS (
      SELECT event_type,
             (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow,
             CAST(hour(ts) AS BIGINT) AS hod
      FROM events),
    g AS (SELECT event_type, dow, hod, CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2, 3)
    SELECT event_type, CAST(dow AS BIGINT) AS dow, hod, n,
           CAST(n * 1000000
                // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                AS BIGINT) AS share_ppm
    FROM g
    """


@register("events_seasonality", oracle=_SEASON_SQL, tags=("events", "analytics"))
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: counts and within-type share per
    (event_type, dow, hour) cell.

    Shapes: one hash(event_type, dow, hod) aggregate with map-side
    combine (≤ |types|·168 groups — tiny), then a window total over
    the aggregated frame partitioned by event_type. At 100 TB the
    exchange carries at most 168 rows per type per task; the window
    runs over a driver-trivial frame. All-integer output."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7
        ).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    )
    g = b.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type")
    return g.withColumn("_total", F.sum("n").over(w)).select(
        "event_type", "dow", "hod", "n",
        F.expr("n * 1000000 DIV _total").cast("bigint").alias("share_ppm"),
    )


# --- events_ks_test ---------------------------------------------------------
#
# Two-sample Kolmogorov–Smirnov statistic between the value
# distributions of two user cohorts, per event type — the
# distribution-level A/B screen next to events_ab_ttest's mean-level
# one, and the principled upgrade of dq_drift's fixed-bin PSI. The
# entire statistic is integer arithmetic: with cohort sizes n0, n1 and
# cumulative counts r0, r1 at each distinct value,
# sup|F0 − F1| = max|r0·n1 − r1·n0| / (n0·n1) — computed as a bigint
# max and ONE integer ppm division at the end.


_KS_SQL = """
    WITH b AS (
      SELECT event_type, value, user_id % 2 AS cohort FROM events),
    g AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM b GROUP BY 1, 2),
    r AS (
      SELECT event_type,
             sum(c0) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS r0,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS r1,
             sum(c0) OVER (PARTITION BY event_type) AS n0,
             sum(c1) OVER (PARTITION BY event_type) AS n1
      FROM g)
    SELECT event_type,
           CAST(max(n0) AS BIGINT) AS n0,
           CAST(max(n1) AS BIGINT) AS n1,
           CAST(floor(CAST(max(abs(r0 * n1 - r1 * n0)) AS DOUBLE)
                      / (CAST(max(n0) AS DOUBLE) * CAST(max(n1) AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS ks_ppm
    FROM r
    GROUP BY event_type
    HAVING max(n0) > 0 AND max(n1) > 0
    """


@register("events_ks_test", oracle=_KS_SQL, tags=("events", "stats", "dq"))
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic (ppm) per event type, cohorts =
    user_id parity.

    Shapes: one hash(event_type, value) aggregate collapses the scan
    to distinct-value rows (map-side combined), one sort within
    event_type for the cumulative ranks, one final per-type max.
    Everything after the first aggregate is |distinct values| sized.
    Grouping/sorting on raw parquet doubles is bit-stable (identical
    bits in, identical order out — no arithmetic on the values).
    At 100 TB: the value-grid frame is the only exchange; a range
    partitioner on (event_type, value) keeps the window local."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_type", "value", (F.col("user_id") % 2).alias("cohort")
    )
    g = b.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).cast("bigint").alias("c0"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    r = g.select(
        "event_type",
        F.sum("c0").over(wcum).alias("r0"),
        F.sum("c1").over(wcum).alias("r1"),
        F.sum("c0").over(wall).alias("n0"),
        F.sum("c1").over(wall).alias("n1"),
    )
    out = (
        r.groupBy("event_type")
        .agg(
            F.max("n0").cast("bigint").alias("n0"),
            F.max("n1").cast("bigint").alias("n1"),
            F.max(F.abs(F.col("r0") * F.col("n1") - F.col("r1") * F.col("n0"))).alias(
                "_dmax"
            ),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    # ks in ppm via an exact double division (sup-diff and n0·n1 are
    # exact ints < 2^53 through sf100): a bigint `·1e6 DIV` would
    # overflow int64 around sf10 — same class as the ab_ttest fix.
    return out.select(
        "event_type", "n0", "n1",
        F.floor(
            F.col("_dmax").cast("double")
            / (F.col("n0").cast("double") * F.col("n1").cast("double"))
            * 1000000
            + 0.5
        ).cast("bigint").alias("ks_ppm"),
    )


# --- events_chi2_independence ----------------------------------------------
#
# Chi-square test of independence over the event_type × cohort
# contingency table — the categorical counterpart of events_ks_test's
# continuous drift screen (is event mix independent of the assignment
# cohort?). Each cell contribution (o − e)²/e is computed from bigint
# inputs with an identical double-op sequence in both engines, then
# micro-quantized into an INTEGER per cell, so the cross-cell sum is
# bigint — order-insensitive.


_CHI2_SQL = """
    WITH b AS (
      SELECT event_type, user_id % 2 AS cohort FROM events),
    cell AS (
      SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS o
      FROM b GROUP BY 1, 2),
    t AS (
      SELECT event_type, cohort, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(sum(o) OVER (PARTITION BY cohort) AS BIGINT)     AS ct,
             CAST(sum(o) OVER () AS BIGINT)                        AS n
      FROM cell),
    q AS (
      SELECT n,
             CAST(floor(
               (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS contrib_micro,
             CAST((SELECT count(DISTINCT event_type) FROM cell) AS BIGINT) AS nr,
             CAST((SELECT count(DISTINCT cohort) FROM cell) AS BIGINT)     AS nc
      FROM t)
    SELECT CAST(max(n) AS BIGINT)                   AS n,
           (max(nr) - 1) * (max(nc) - 1)            AS dof,
           CAST(sum(contrib_micro) AS BIGINT)       AS chi2_micro,
           CAST(sum(contrib_micro) AS DOUBLE) / 1e6 AS chi2
    FROM q
    """


@register("events_chi2_independence", oracle=_CHI2_SQL, tags=("events", "stats", "dq"))
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for event_type ⟂ cohort.

    Shapes: one tiny contingency aggregate (|types|·2 cells,
    map-side combined), window totals over the cell frame, one
    single-row reduce. All heavy lifting is the first aggregate —
    everything after is constant-sized, and the dof cardinalities
    (nr, nc) are countDistinct columns of that SAME final reduce —
    not eager driver-side .distinct().count() jobs, which would
    re-run the contingency aggregate (a full fact-table scan each)
    before the real job starts. At 100 TB: one exchange of
    per-task partial cells."""
    ev = table(spark, sf_dir, "events")
    cell = (
        ev.select("event_type", (F.col("user_id") % 2).alias("cohort"))
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    t = cell.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint").alias("rt"),
        F.sum("o").over(Window.partitionBy("cohort")).cast("bigint").alias("ct"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n").cast(
        "double"
    )
    dev = F.col("o").cast("double") - e
    contrib = F.floor(dev * dev / e * 1000000 + 0.5).cast("bigint")
    q = t.select("event_type", "cohort", "n", contrib.alias("contrib_micro"))
    return q.agg(
        F.max("n").cast("bigint").alias("n"),
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("cohort") - 1))
        .cast("bigint")
        .alias("dof"),
        F.sum("contrib_micro").cast("bigint").alias("chi2_micro"),
        (F.sum("contrib_micro").cast("double") / F.lit(1e6)).alias("chi2"),
    )


# --- events_dau_mau ---------------------------------------------------------
#
# DAU/MAU stickiness: per day, distinct active users that day (DAU)
# and over the trailing 30 days (MAU), ratio in ppm — the engagement
# metric product teams watch daily. Exact distinct-over-range has no
# SQL window form; both engines compute it as day-grid × daily-user
# join (the honest exact shape). All-integer output.


_DAU_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du),
    mau AS (
      SELECT g.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days g JOIN du u
        ON u.day BETWEEN g.day - INTERVAL 29 DAY AND g.day
      GROUP BY g.day),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day)
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, m.mau,
           CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN mau m ON d.day = m.day
    """


@register("events_dau_mau", oracle=_DAU_SQL, tags=("events", "analytics"))
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-30d MAU, and stickiness (ppm).

    Shapes: the scan collapses to distinct (day, user) once; the day
    grid (|days| rows) BROADCASTS onto that frame with a 30-day range
    condition; one count-distinct per day closes it. Honest about
    scale: exact trailing distinct is inherently a re-count (users
    deduplicate across the window — sums of daily DAU overcount);
    the 100 TB swap is per-day HLL sketches merged over the window
    (agg_hll_sketch's machinery), trading exactness for one pass —
    documented here, kept exact because the oracle is exact."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    du = du.localCheckpoint()
    days = du.select("day").distinct().select(F.col("day").alias("g"))
    mau = (
        du.join(
            F.broadcast(days),
            (F.col("day") <= F.col("g"))
            & (F.col("day") >= F.date_sub(F.col("g"), 29)),
        )
        .groupBy("g")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    j = dau.join(mau, dau["day"] == mau["g"]).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "mau"
    )
    return j.select(
        "day", "dau", "mau",
        F.expr("dau * 1000000 DIV mau").cast("bigint").alias("stickiness_ppm"),
    )


# --- events_new_vs_returning ------------------------------------------------
#
# Per-day split of active users into first-ever-seen (new) vs
# returning — the acquisition/retention decomposition next to
# events_dau_mau's aggregate. Pure integer arithmetic on the same
# distinct (day, user) frame.


_NVR_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id)
    SELECT strftime(du.day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN du.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM du JOIN f ON du.user_id = f.user_id
    GROUP BY du.day
    """


@register("events_new_vs_returning", oracle=_NVR_SQL, tags=("events", "analytics"))
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day new vs returning active users.

    Shapes: distinct (day, user) once, a per-user min-day aggregate
    (user-sized, rejoined on user_id — same exchange key, AQE
    coalesces), one per-day count. At 100 TB the first-day frame is
    the user dimension and broadcasts."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    f = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = du.join(f, "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau", "new_users", "returning_users",
        )
    )


# --- events_bot_flags -------------------------------------------------------
#
# Bot/automation screen per user — the traffic-quality gate a
# pretraining-data or product-metrics pipeline runs before trusting
# event streams: burst rate (max events in any minute) and
# inter-event gap profile (min + exact-median microsecond gap), with
# a deterministic flag rule. All-integer (µs gaps, percentile_disc
# picked element).

_BOT_BURST = 30           # events in one minute
_BOT_MEDIAN_GAP_US = 2_000_000


_BOT_SQL = f"""
    WITH e AS (
      SELECT user_id, ts, epoch_us(ts) AS us,
             epoch_us(ts) // 60000000 AS minute
      FROM events),
    bursts AS (
      SELECT user_id, CAST(max(c) AS BIGINT) AS max_per_min
      FROM (SELECT user_id, minute, count(*) AS c FROM e GROUP BY 1, 2)
      GROUP BY 1),
    gaps AS (
      SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
               AS gap_us
      FROM e),
    gstat AS (
      SELECT user_id,
             CAST(count(gap_us) AS BIGINT) AS n_gaps,
             CAST(min(gap_us) AS BIGINT) AS min_gap_us,
             CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS median_gap_us
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY 1)
    SELECT b.user_id, b.max_per_min, g.n_gaps, g.min_gap_us, g.median_gap_us,
           (b.max_per_min >= {_BOT_BURST}
            OR g.median_gap_us < {_BOT_MEDIAN_GAP_US}) AS bot_flag
    FROM bursts b JOIN gstat g ON b.user_id = g.user_id
    """


@register("events_bot_flags", oracle=_BOT_SQL, tags=("events", "dq", "north_star"))
def events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot screen: burst rate + gap profile + flag.

    Shapes: one hash(user, minute) burst aggregate rolled up to
    per-user, one hash(user) window for the lag gaps (same exchange
    key — AQE reuses the partitioning), exact median as a
    percentile_disc picked element over integer µs. The flag rule is
    pure integer comparisons — engine-identical. At 100 TB both
    aggregates partial-combine; nothing exceeds user-grain."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) DIV 60000000").alias("minute"),
    )
    bursts = (
        e.groupBy("user_id", "minute")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").cast("bigint").alias("max_per_min"))
    )
    gaps = e.select(
        "user_id",
        (
            F.col("us")
            - F.lag("us").over(W.partitionBy("user_id").orderBy("us"))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    gstat = gaps.groupBy("user_id").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
        .cast("bigint")
        .alias("median_gap_us"),
    )
    j = bursts.join(gstat, "user_id")
    return j.select(
        "user_id", "max_per_min", "n_gaps", "min_gap_us", "median_gap_us",
        (
            (F.col("max_per_min") >= _BOT_BURST)
            | (F.col("median_gap_us") < _BOT_MEDIAN_GAP_US)
        ).alias("bot_flag"),
    )


# --- events_funnel_24h ------------------------------------------------------
#
# Time-bounded funnel: signup → purchase WITHIN 24 hours, per
# weekly signup cohort — the conversion-rate-with-deadline metric
# (events_funnel counts WHO converts ever; events_conversion_lag
# measures HOW FAST; this one imposes the deadline). All-integer:
# exact µs comparison, ppm conversion by integer DIV.

_FUNNEL_WINDOW_US = 86_400_000_000


_FUNNEL24_SQL = f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    conv AS (
      SELECT s.user_id,
             max(CASE WHEN e.event_type = 'purchase'
                       AND epoch_us(e.ts) >= s.signup_us
                       AND epoch_us(e.ts) < s.signup_us + {_FUNNEL_WINDOW_US}
                      THEN 1 ELSE 0 END) AS converted
      FROM s JOIN events e ON e.user_id = s.user_id
      GROUP BY s.user_id),
    c AS (
      SELECT s.user_id,
             signup_us // (7 * 86400000000) AS signup_week,
             conv.converted
      FROM s JOIN conv ON s.user_id = conv.user_id)
    SELECT CAST(signup_week AS BIGINT) AS signup_week,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(sum(converted) AS BIGINT) AS n_converted_24h,
           CAST(sum(converted) * 1000000 // count(*) AS BIGINT)
             AS conversion_ppm
    FROM c GROUP BY 1
    """


@register("events_funnel_24h", oracle=_FUNNEL24_SQL, tags=("events", "funnel"))
def events_funnel_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: first signup → any purchase within 24h, rolled
    up by signup week.

    Shapes: per-user first-signup aggregate (user-grain), rejoined to
    the event stream on the SAME hash(user) key for the deadline
    check (AQE reuses the partitioning), then a |weeks|-row rollup.
    The deadline is an exact integer µs window — no timestamp
    arithmetic in floats anywhere. At 100 TB the signup frame is the
    user dimension and broadcasts."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    conv = (
        ev.join(s, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("signup_us"))
                    & (
                        F.unix_micros("ts")
                        < F.col("signup_us") + _FUNNEL_WINDOW_US
                    ),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    c = s.join(conv, "user_id").select(
        F.expr("signup_us DIV (7 * 86400000000)").alias("signup_week"),
        "converted",
    )
    g = c.groupBy("signup_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signups"),
        F.sum("converted").cast("bigint").alias("n_converted_24h"),
    )
    return g.select(
        F.col("signup_week").cast("bigint").alias("signup_week"),
        "n_signups",
        "n_converted_24h",
        F.expr("n_converted_24h * 1000000 DIV n_signups").cast("bigint").alias(
            "conversion_ppm"
        ),
    )


# --- events_lag_features ----------------------------------------------------
#
# Supervised-training feature build: per event (ordered within user),
# the lag-1/lag-2 values and the trailing-3 rolling sum — the
# classic time-series feature frame a forecasting or CTR model
# trains on. All columns are micro-quantized bigints BEFORE the
# window math, so lags are exact copies and the rolling sum is
# integer — engine-identical, no float window arithmetic.


_LAGFEAT_SQL = """
    WITH q AS (
      SELECT user_id, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
             epoch_us(ts) AS us
      FROM events WHERE value IS NOT NULL)
    SELECT user_id, event_id, v_micro,
           lag(v_micro, 1) OVER w AS lag1_micro,
           lag(v_micro, 2) OVER w AS lag2_micro,
           CAST(sum(v_micro) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS roll3_sum_micro
    FROM q
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """


@register("events_lag_features", oracle=_LAGFEAT_SQL, tags=("events", "ml"))
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event lag and rolling-window features (integer micro-units).

    Shapes: ONE hash(user) window exchange carries all four features
    (lag-1, lag-2, trailing-3 sum share the same (us, event_id)
    total-order frame). At 100 TB this is the standard feature-build
    pass: partition by entity, sort once, emit every windowed feature
    from the single sort."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint").alias("v_micro"),
        F.unix_micros("ts").alias("us"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    wr = w.rowsBetween(-2, W.currentRow)
    return q.select(
        "user_id",
        "event_id",
        "v_micro",
        F.lag("v_micro", 1).over(w).alias("lag1_micro"),
        F.lag("v_micro", 2).over(w).alias("lag2_micro"),
        F.sum("v_micro").over(wr).cast("bigint").alias("roll3_sum_micro"),
    )


# --- events_error_rate_sla --------------------------------------------------
#
# Hourly error-rate SLO screen: error events over total per hour per
# ... with breach flag when the rate crosses the budget — the alert
# rule a reliability dashboard evaluates. All-integer.

_SLA_BUDGET_PPM = 250_000


_SLA_SQL = f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS hour,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1)
    SELECT CAST(hour AS BIGINT) AS hour, n_total, n_errors,
           CAST(n_errors * 1000000 // n_total AS BIGINT) AS error_ppm,
           n_errors * 1000000 // n_total >= {_SLA_BUDGET_PPM} AS breach
    FROM h
    """


@register("events_error_rate_sla", oracle=_SLA_SQL, tags=("events", "dq"))
def events_error_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error rate (ppm) with SLO-breach flag.

    Shapes: one hour-bucket aggregate with map-side combine; the
    breach rule is integer comparison on the hourly frame. The
    streaming face of this shape is stream_tumbling's window — this
    is its batch SLO read."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("hour"),
        F.col("event_type"),
    ).groupBy("hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    return h.select(
        F.col("hour").cast("bigint").alias("hour"),
        "n_total",
        "n_errors",
        F.expr("n_errors * 1000000 DIV n_total").cast("bigint").alias("error_ppm"),
        (F.expr("n_errors * 1000000 DIV n_total") >= _SLA_BUDGET_PPM).alias(
            "breach"
        ),
    )


# --- events_fano_factor -----------------------------------------------------
#
# Fano factor (variance/mean of hourly counts) per event type — the
# burstiness index (1 = Poisson, >1 = bursty, <1 = regular) that
# complements agg_autocorr's memory measure. Integer count sums, one
# fixed double-op finish.


_FANO_SQL = """
    WITH c AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS snn
      FROM c GROUP BY 1)
    SELECT event_type, k, sn,
           (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / k) / (k - 1)
             / (CAST(sn AS DOUBLE) / k) AS fano
    FROM s WHERE k > 1
    """


@register("events_fano_factor", oracle=_FANO_SQL, tags=("events", "stats"))
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-count Fano factor per event type.

    Shapes: hour-bucket counts (map-side combined) → per-type sums →
    one double finish with a fixed op sequence on exact integers
    (sample variance / mean). Hour counts stay far below the int64
    product bound at any realistic scale (documented; decimal is the
    swap)."""
    ev = table(spark, sf_dir, "events")
    c = (
        ev.select("event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("snn"),
    )
    snd = F.col("sn").cast("double")
    var = (F.col("snn").cast("double") - snd * F.col("sn") / F.col("k")) / (
        F.col("k") - 1
    )
    mean = snd / F.col("k")
    return s.filter(F.col("k") > 1).select(
        "event_type", "k", "sn", (var / mean).alias("fano")
    )


# --- events_interval_merge --------------------------------------------------
#
# Gaps-and-islands interval coalescing: each event opens a
# [ts, ts+300 s) activity interval; per user, overlapping/touching
# intervals merge into maximal busy periods. THE classic sessionless
# "when was this entity active" rollup (uptime stitching, meeting
# overlap, GPU-busy spans) — distinct from events_sessionize (gap
# threshold between POINTS) in that it merges INTERVALS, the form that
# generalizes to duration-carrying input.

_IM_PAD_S = 300


_IM_SQL = f"""
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + {_IM_PAD_S} AS f, event_id
      FROM events),
    m AS (
      SELECT user_id, s, f, event_id,
             max(f) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_f
      FROM e),
    fl AS (
      SELECT user_id, s, f, event_id,
             CASE WHEN prev_max_f IS NULL OR s > prev_max_f THEN 1 ELSE 0 END
               AS new_island
      FROM m),
    isl AS (
      SELECT user_id, s, f,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM fl)
    SELECT user_id, CAST(island AS BIGINT) AS island,
           CAST(min(s) AS BIGINT) AS start_s,
           CAST(max(f) AS BIGINT) AS end_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(f) - min(s) AS BIGINT) AS span_s
    FROM isl GROUP BY 1, 2
    """


@register("events_interval_merge", oracle=_IM_SQL, tags=("events", "timeseries"))
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (epoch-second
    integers throughout).

    Shapes: ONE exchange on user_id serves both window passes (the
    running max(end) that detects island starts and the running sum
    that numbers them share partitioning AND ordering → a single sort,
    no second shuffle) plus the final (user, island) groupBy, which is
    a prefix of the same ordering. Island starts are well-defined
    under ts ties (tied rows see the same prev_max_f; the event_id
    tiebreaker makes the running sum total-ordered)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        (F.unix_timestamp("ts").cast("bigint") + _IM_PAD_S).alias("f"),
        "event_id",
    )
    ws = W.partitionBy("user_id").orderBy("s", "event_id")
    m = ev.withColumn(
        "prev_max_f", F.max("f").over(ws.rowsBetween(W.unboundedPreceding, -1))
    )
    fl = m.withColumn(
        "new_island",
        F.when(
            F.col("prev_max_f").isNull() | (F.col("s") > F.col("prev_max_f")), 1
        ).otherwise(0),
    )
    isl = fl.withColumn(
        "island",
        F.sum("new_island").over(ws.rowsBetween(W.unboundedPreceding, 0)),
    )
    return isl.groupBy("user_id", F.col("island").cast("bigint").alias("island")).agg(
        F.min("s").cast("bigint").alias("start_s"),
        F.max("f").cast("bigint").alias("end_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("f") - F.min("s")).cast("bigint").alias("span_s"),
    )


# --- events_burstiness ------------------------------------------------------
#
# Goh–Barabási burstiness per user: B = (σ − μ)/(σ + μ) over the
# inter-arrival gaps (−1 = perfectly periodic, 0 = Poisson, → 1 =
# bursty). The temporal-signature feature next to events_fano_factor
# (which measures count dispersion, not gap dispersion). Gap moments
# accumulate as exact integers; σ and B are one fixed-order double
# formula per user, ppm-quantized (micro would overflow nothing, but
# ppm matches the family's resolution).


_BURST_SQL = """
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS prev_s
      FROM events),
    g AS (
      SELECT user_id, s - prev_s AS gap FROM o WHERE prev_s IS NOT NULL),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sum_g,
             CAST(sum(gap * gap) AS BIGINT) AS sum_g2
      FROM g GROUP BY 1)
    SELECT user_id, n_gaps,
           CAST(sum_g // n_gaps AS BIGINT) AS mean_gap_s,
           CAST(floor(sqrt(greatest(
                  CAST(sum_g2 AS DOUBLE) / n_gaps
                  - (CAST(sum_g AS DOUBLE) / n_gaps)
                    * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0)) * 1000000 + 0.5)
                AS BIGINT) AS std_gap_micro_s,
           CAST(floor(
             (sqrt(greatest(CAST(sum_g2 AS DOUBLE) / n_gaps
                            - (CAST(sum_g AS DOUBLE) / n_gaps)
                              * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0))
              - CAST(sum_g AS DOUBLE) / n_gaps)
             / (sqrt(greatest(CAST(sum_g2 AS DOUBLE) / n_gaps
                              - (CAST(sum_g AS DOUBLE) / n_gaps)
                                * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0))
                + CAST(sum_g AS DOUBLE) / n_gaps) * 1000000 + 0.5) AS BIGINT)
             AS burstiness_ppm
    FROM m WHERE n_gaps >= 2 AND sum_g > 0
    """


@register("events_burstiness", oracle=_BURST_SQL, tags=("events", "timeseries"))
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness B = (σ−μ)/(σ+μ) per user (ppm).

    Shapes: one exchange on user_id serves the lag window AND the
    moment aggregate (same key); moments are exact bigints (gaps are
    epoch-second integers; Σg² fits bigint through sf100 — 1e4-second
    gaps squared × 1e9 rows ≈ 1e17 < 9.2e18), so the per-user double
    formula is the only float code and runs once per user."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        "event_id",
    )
    wl = W.partitionBy("user_id").orderBy("s", "event_id")
    g = (
        ev.withColumn("prev_s", F.lag("s").over(wl))
        .filter(F.col("prev_s").isNotNull())
        .select("user_id", (F.col("s") - F.col("prev_s")).alias("gap"))
    )
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("sum_g"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sum_g2"),
    )
    mu = "CAST(sum_g AS DOUBLE) / n_gaps"
    var = f"greatest(CAST(sum_g2 AS DOUBLE) / n_gaps - ({mu}) * ({mu}), 0.0)"
    return m.filter((F.col("n_gaps") >= 2) & (F.col("sum_g") > 0)).select(
        "user_id",
        "n_gaps",
        F.expr("sum_g DIV n_gaps").cast("bigint").alias("mean_gap_s"),
        F.expr(
            f"CAST(floor(sqrt({var}) * 1000000 + 0.5) AS BIGINT)"
        ).alias("std_gap_micro_s"),
        F.expr(
            f"CAST(floor((sqrt({var}) - {mu}) / (sqrt({var}) + {mu})"
            f" * 1000000 + 0.5) AS BIGINT)"
        ).alias("burstiness_ppm"),
    )


# --- events_user_entropy ----------------------------------------------------
#
# Behavioral diversity per user: Shannon entropy over the user's
# event_type mix (micro-nats, integer) plus normalized evenness —
# the text_char_entropy ln() discipline applied to the behavioral
# histogram (bot screens pair this with events_bot_flags: scripted
# accounts sit at entropy ≈ 0 or ≈ ln K exactly).


_UENT_SQL = """
    WITH hist AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT user_id, CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_types
      FROM hist GROUP BY 1),
    terms AS (
      SELECT h.user_id, t.total, t.n_types,
             h.n * CAST(floor(ln(CAST(h.n AS DOUBLE) / CAST(t.total AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM hist h JOIN tot t ON h.user_id = t.user_id)
    SELECT user_id, CAST(max(total) AS BIGINT) AS n_events,
           CAST(max(n_types) AS BIGINT) AS n_types,
           CAST(-sum(term_micro) // max(total) AS BIGINT) AS entropy_micro_nats
    FROM terms GROUP BY user_id
    """


@register("events_user_entropy", oracle=_UENT_SQL, tags=("events", "dq", "ml"))
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type entropy per user (micro-nats, integer).

    Determinism: identical to text_char_entropy — ln(p) floor-
    quantized per DISTINCT (user, type) histogram cell, bigint-
    weighted and summed, integer-divided by the user total; no
    cross-row float accumulation. Shapes: (user, type) partial counts
    map-side combine before one user_id exchange; everything after is
    histogram-sized (≤ |event_type| rows per user)."""
    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = hist.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    terms = hist.join(tot, "user_id").select(
        "user_id",
        "total",
        "n_types",
        (
            F.col("n")
            * F.floor(
                F.log(F.col("n").cast("double") / F.col("total").cast("double"))
                * 1000000
                + 0.5
            ).cast("bigint")
        ).alias("term_micro"),
    )
    return terms.groupBy("user_id").agg(
        F.max("total").cast("bigint").alias("n_events"),
        F.max("n_types").cast("bigint").alias("n_types"),
        F.expr("-sum(term_micro) DIV max(total)").cast("bigint").alias(
            "entropy_micro_nats"
        ),
    )


# --- events_locf ------------------------------------------------------------
#
# Last-observation-carried-forward gap fill — the sensor/telemetry
# imputation next to events_interpolate_linear (which needs BOTH
# endpoints; LOCF is causal, the only choice in online features).
# A deterministic mask (event_id % 5 = 0) simulates the missing
# readings; values ride as micro-integers so the fill is exact.


_LOCF_SQL = """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(floor(value * 1000000 + 0.5) AS BIGINT)
             END AS x_micro
      FROM events)
    SELECT user_id, event_id, s, x_micro,
           last_value(x_micro IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_micro,
           CAST(CASE WHEN x_micro IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS was_missing
    FROM e
    """


@register("events_locf", oracle=_LOCF_SQL, tags=("events", "timeseries"))
def events_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF) of masked readings per user (micro
    integers; leading gaps stay NULL).

    Shapes: ONE user-keyed exchange + sort; the fill is last(...,
    ignorenulls) over a running frame — O(1) state per row, the
    streaming-friendly imputation (its Structured Streaming twin is a
    value-state applyInPandasWithState, documented seam)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.floor(F.col("value") * 1000000 + 0.5).cast("bigint")
        ).alias("x_micro"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "s",
        "x_micro",
        F.last("x_micro", ignorenulls=True).over(w).alias("filled_micro"),
        F.when(F.col("x_micro").isNull(), 1).otherwise(0).cast("bigint").alias(
            "was_missing"
        ),
    )


# --- events_transition_entropy ----------------------------------------------
#
# Behavioral predictability: for each FROM event type, the Shannon
# entropy of its next-event distribution (micro-nats) — low entropy =
# scripted/funnel behavior, high = exploratory. The summary metric on
# top of events_markov_transitions' raw matrix, using the
# text_char_entropy ln() quantization discipline.


_TRANS_ENT_SQL = """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_to_types
      FROM t GROUP BY 1),
    terms AS (
      SELECT t.from_type, tt.total, tt.n_to_types,
             t.n * CAST(floor(ln(CAST(t.n AS DOUBLE) / CAST(tt.total AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM t JOIN tot tt ON t.from_type = tt.from_type)
    SELECT from_type, CAST(max(total) AS BIGINT) AS n_transitions,
           CAST(max(n_to_types) AS BIGINT) AS n_to_types,
           CAST(-sum(term_micro) // max(total) AS BIGINT)
             AS entropy_micro_nats
    FROM terms GROUP BY from_type
    """


@register(
    "events_transition_entropy", oracle=_TRANS_ENT_SQL, tags=("events", "ml")
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per from-state (micro-nats,
    integer).

    Shapes: the lag window shares events_markov_transitions' user
    exchange; the transition matrix is |types|²-bounded, so everything
    after the first aggregate is constant-sized; ln(p) floor-quantizes
    per matrix CELL (the proven cross-engine discipline)."""
    ev = table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy(
        F.unix_timestamp("ts").cast("bigint"), "event_id"
    )
    o = ev.select(
        "event_type", F.lag("event_type").over(wl).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = o.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = t.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_to_types"),
    )
    terms = t.join(tot, "from_type").select(
        "from_type",
        "total",
        "n_to_types",
        (
            F.col("n")
            * F.floor(
                F.log(F.col("n").cast("double") / F.col("total").cast("double"))
                * 1000000
                + 0.5
            ).cast("bigint")
        ).alias("term_micro"),
    )
    return terms.groupBy("from_type").agg(
        F.max("total").cast("bigint").alias("n_transitions"),
        F.max("n_to_types").cast("bigint").alias("n_to_types"),
        F.expr("-sum(term_micro) DIV max(total)").cast("bigint").alias(
            "entropy_micro_nats"
        ),
    )


# --- events_lateness_profile ------------------------------------------------
#
# Watermark-tuning artifact: per source (event_type — one ordered-ish
# log each, the Kafka-partition analogy), how late do events arrive
# relative to the furthest event time already seen on that source?
# lateness = running max(event time) over ARRIVAL order (event_id) −
# event time, bucketed into the thresholds a watermark would be set
# at. THE batch-side report that answers "how much state does a
# 10-minute watermark actually drop" before any stream runs.


_LATENESS_SQL = """
    WITH o AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             max(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hwm
      FROM events),
    l AS (
      SELECT event_type, hwm - s AS late_s FROM o),
    b AS (
      SELECT event_type,
             CASE WHEN late_s = 0 THEN 'on_time'
                  WHEN late_s <= 60 THEN 'le_1m'
                  WHEN late_s <= 600 THEN 'le_10m'
                  WHEN late_s <= 3600 THEN 'le_1h'
                  ELSE 'gt_1h' END AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM l GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM b GROUP BY 1)
    SELECT b.event_type, b.bucket, b.n,
           CAST(b.n * 1000000 // t.total AS BIGINT) AS share_ppm
    FROM b JOIN t ON b.event_type = t.event_type
    """


@register(
    "events_lateness_profile", oracle=_LATENESS_SQL, tags=("events", "streaming")
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness distribution vs the per-source high-water
    mark (integer buckets + ppm share).

    Shapes: one event_type exchange serves the running-max window
    (arrival order = event_id, the ingestion sequence) and the bucket
    rollup; totals derive from the bucket frame and broadcast back.
    Per-source partitioning is the honest scale unit — a GLOBAL
    arrival sort would be the cross-partition total order no log
    provides anyway (watermarks are per-partition-min in Spark
    too)."""
    ev = table(spark, sf_dir, "events")
    wa = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = F.unix_timestamp("ts").cast("bigint")
    o = ev.select("event_type", s.alias("s"), "event_id").select(
        "event_type",
        "s",
        F.max("s").over(wa).alias("hwm"),
    )
    late = o.select("event_type", (F.col("hwm") - F.col("s")).alias("late_s"))
    b = late.select(
        "event_type",
        F.when(F.col("late_s") == 0, "on_time")
        .when(F.col("late_s") <= 60, "le_1m")
        .when(F.col("late_s") <= 600, "le_10m")
        .when(F.col("late_s") <= 3600, "le_1h")
        .otherwise("gt_1h")
        .alias("bucket"),
    ).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = b.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("total"))
    return b.join(F.broadcast(t), "event_type").select(
        "event_type",
        "bucket",
        "n",
        F.expr("n * 1000000 DIV total").cast("bigint").alias("share_ppm"),
    )


# --- events_ab_srm ----------------------------------------------------------
#
# Sample-ratio mismatch — the A/B test's health check that runs BEFORE
# any lift is read: chi-square goodness-of-fit of the observed
# assignment split vs the designed 50/50. A failed SRM invalidates the
# experiment regardless of p-values (the first thing every
# experimentation platform gates on). Cohort = user_id % 2, the same
# deterministic assignment events_ab_lift/ab_ttest use.


_SRM_SQL = """
    WITH a AS (
      SELECT user_id % 2 AS cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM a),
    c AS (
      SELECT a.cohort, a.n, t.total,
             CAST(floor(
               (CAST(a.n AS DOUBLE) - CAST(t.total AS DOUBLE) / 2)
               * (CAST(a.n AS DOUBLE) - CAST(t.total AS DOUBLE) / 2)
               / (CAST(t.total AS DOUBLE) / 2) * 1000000 + 0.5) AS BIGINT)
               AS cell_micro
      FROM a, t)
    SELECT CAST(max(total) AS BIGINT) AS n_users,
           CAST(max(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_control,
           CAST(max(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_treat,
           CAST(sum(cell_micro) AS BIGINT) AS chi2_micro,
           CAST(CASE WHEN sum(cell_micro) > 3841459 THEN 1 ELSE 0 END AS BIGINT)
             AS srm_flag
    FROM c
    """


@register("events_ab_srm", oracle=_SRM_SQL, tags=("events", "ml", "dq"))
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch χ² vs the designed 50/50 split (micro
    integers; flag at the 95% critical value 3.841459).

    Shapes: one distinct-user aggregate per cohort (2 groups), a
    2-row frame after that — everything post-scan is constant-sized.
    Each χ² cell micro-quantizes ONE mirrored double expression over
    exact integers (the chi2_independence discipline)."""
    ev = table(spark, sf_dir, "events")
    a = ev.select((F.col("user_id") % 2).alias("cohort"), "user_id").groupBy(
        "cohort"
    ).agg(F.countDistinct("user_id").cast("bigint").alias("n"))
    t = a.agg(F.sum("n").cast("bigint").alias("total"))
    c = a.crossJoin(F.broadcast(t)).select(
        "cohort",
        "n",
        "total",
        F.expr(
            "CAST(floor((CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 2)"
            " * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 2)"
            " / (CAST(total AS DOUBLE) / 2) * 1000000 + 0.5) AS BIGINT)"
        ).alias("cell_micro"),
    )
    return c.agg(
        F.max("total").cast("bigint").alias("n_users"),
        F.max(F.when(F.col("cohort") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_control"),
        F.max(F.when(F.col("cohort") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_treat"),
        F.sum("cell_micro").cast("bigint").alias("chi2_micro"),
    ).select(
        "n_users",
        "n_control",
        "n_treat",
        "chi2_micro",
        F.when(F.col("chi2_micro") > 3841459, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("srm_flag"),
    )


# --- events_ab_mannwhitney --------------------------------------------------
#
# Mann–Whitney U (Wilcoxon rank-sum) per event_type: the
# NONPARAMETRIC A/B test that completes the experimentation kit
# (events_ab_ttest assumes means matter; KS tests the whole shape;
# rank-sum tests stochastic dominance and shrugs at outliers). Ranks
# are exact integers: rank() gives each tie group its minimum rank,
# the tie-group size completes the midrank, and everything stays
# integer by carrying 2×midrank. z uses the tie-free variance
# (registered semantics; value doubles make exact ties rare) with one
# mirrored sqrt, micro-quantized.


_MW_SQL = """
    WITH v AS (
      SELECT event_type, user_id % 2 AS cohort, value FROM events),
    r AS (
      SELECT event_type, cohort,
             rank() OVER (PARTITION BY event_type ORDER BY value) AS rk,
             count(*) OVER (PARTITION BY event_type, value) AS tc
      FROM v),
    s AS (
      SELECT event_type,
             CAST(sum(CASE WHEN cohort = 0 THEN 2 * rk + tc - 1 ELSE 0 END)
                  AS BIGINT) AS s2_a,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM r GROUP BY 1)
    SELECT event_type, n_a, n_b,
           CAST(s2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(floor(
             (CAST(s2_a - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a * n_b AS DOUBLE))
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12.0))
             * 1000000 + 0.5) AS BIGINT) AS z_micro
    FROM s
    """


@register("events_ab_mannwhitney", oracle=_MW_SQL, tags=("events", "ml", "stats"))
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum U and z per event_type (integer U via the 2×midrank
    carry; z micro-quantized).

    Shapes: ONE event_type exchange serves the rank window, the
    tie-count window (same partitioning, prefix key), and the final
    rollup; the per-type z is one mirrored double expression over
    exact integers. No global sort — the test statistic partitions by
    the experiment unit like every ab_* key."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", (F.col("user_id") % 2).alias("cohort"), "value"
    )
    r = v.select(
        "event_type",
        "cohort",
        F.rank().over(W.partitionBy("event_type").orderBy("value")).alias("rk"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type", "value"))
        .alias("tc"),
    )
    s = r.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("cohort") == 0, 2 * F.col("rk") + F.col("tc") - 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s2_a"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("s2_a - n_a * (n_a + 1)").cast("bigint").alias("u2_a"),
        F.expr(
            "CAST(floor((CAST(s2_a - n_a * (n_a + 1) AS DOUBLE)"
            " - CAST(n_a * n_b AS DOUBLE))"
            " / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12.0))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("z_micro"),
    )


# --- cdc_compact_log --------------------------------------------------------
#
# CDC log compaction (the Kafka compacted-topic contract): collapse a
# multi-version change feed to ONE latest record per key, KEEPING
# delete tombstones (cdc_apply's applied-state face drops them; a
# compacted LOG must retain them so late joiners still see the
# delete). Reports superseded-row counts — the space the compaction
# reclaimed. Same deterministic feed as cdc_apply.


_COMPACT_SQL = """
    WITH feed AS (
      SELECT o_orderkey AS key, 1 AS version,
             CASE WHEN o_orderkey % 100 = 0 THEN 'D' ELSE 'U' END AS op,
             'v1-' || lower(o_orderstatus) AS new_status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'v2-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 100 <> 0
    ), r AS (
      SELECT key, version, op, new_status,
             row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn,
             count(*) OVER (PARTITION BY key) AS n_versions
      FROM feed)
    SELECT key, CAST(version AS BIGINT) AS version, op, new_status,
           CAST(n_versions - 1 AS BIGINT) AS n_superseded,
           CAST(CASE WHEN op = 'D' THEN 1 ELSE 0 END AS BIGINT) AS is_tombstone
    FROM r WHERE rn = 1
    """


@register("cdc_compact_log", oracle=_COMPACT_SQL, tags=("cdc",))
def cdc_compact_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted CDC log: latest record per key WITH tombstones
    (integer flags and supersede counts).

    Shapes: one feed-keyed exchange serves the rank window, the
    version count, and implicitly the output partitioning — the
    compaction IS dedup_keep_latest plus tombstone retention, which
    is exactly why compacted topics replace base-table bootstraps at
    100 TB: new consumers read |keys| rows, not |changes|."""
    o = table(spark, sf_dir, "orders")
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
    feed = f1.unionAll(f2)
    wk = W.partitionBy("key")
    r = feed.select(
        "key",
        "version",
        "op",
        "new_status",
        F.row_number().over(wk.orderBy(F.desc("version"))).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n_versions"),
    )
    return r.filter(F.col("rn") == 1).select(
        "key",
        F.col("version").cast("bigint").alias("version"),
        "op",
        "new_status",
        (F.col("n_versions") - 1).cast("bigint").alias("n_superseded"),
        F.when(F.col("op") == "D", 1).otherwise(0).cast("bigint").alias(
            "is_tombstone"
        ),
    )


# --- events_burn_rate -------------------------------------------------------
#
# Multi-window error burn rate (the Google SRE alerting pattern):
# per event_type and hour, the trailing-1h error rate over the
# trailing-6h error rate — a burn-rate spike flags "eating the error
# budget NOW" while the long window suppresses flapping. Rates are
# integer ppm from exact counts; the ratio is one bigint DIV with a
# zero-guard.

_BURN_ERR = 95.0  # value > threshold = "error" (same convention as sla key)


_BURNRATE_SQL = f"""
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_BURN_ERR} THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, hour_s, n, errs,
             sum(n) OVER w1 AS n_1h, sum(errs) OVER w1 AS e_1h,
             sum(n) OVER w6 AS n_6h, sum(errs) OVER w6 AS e_6h
      FROM h
      WINDOW w1 AS (PARTITION BY event_type ORDER BY hour_s
                    ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
             w6 AS (PARTITION BY event_type ORDER BY hour_s
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT event_type, hour_s,
           CAST(e_1h * 1000000 // n_1h AS BIGINT) AS rate_1h_ppm,
           CAST(e_6h * 1000000 // n_6h AS BIGINT) AS rate_6h_ppm,
           CAST(CASE WHEN e_6h = 0 THEN 0
                     ELSE (e_1h * 1000000 // n_1h) * 1000
                          // greatest(e_6h * 1000000 // n_6h, 1) END
                AS BIGINT) AS burn_rate_milli,
           CAST(CASE WHEN e_6h > 0
                          AND (e_1h * 1000000 // n_1h) * 1000
                              // greatest(e_6h * 1000000 // n_6h, 1) > 2000
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
    FROM w
    """


@register("events_burn_rate", oracle=_BURNRATE_SQL, tags=("events", "dq", "streaming"))
def events_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1h/6h error burn rate per (event_type, hour), alert at
    2× (integer milli-ratio).

    Shapes: ONE exchange builds the hourly grid (map-side combined,
    |types|·|hours| rows); both trailing windows run on that tiny
    aggregated frame with the same partitioning and ordering — the
    window-over-preaggregate discipline (never window the raw facts
    when the grain is hourly). Streaming face = two tumbling aggs +
    a stream-stream self-join, noted as the seam."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        ((F.unix_timestamp("ts").cast("bigint") / 3600).cast("bigint") * 3600)
        .alias("hour_s"),
        F.when(F.col("value") > _BURN_ERR, 1).otherwise(0).alias("is_err"),
    ).groupBy("event_type", "hour_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_err").cast("bigint").alias("errs"),
    )
    wo = W.partitionBy("event_type").orderBy("hour_s")
    w1 = wo.rowsBetween(0, 0)
    w6 = wo.rowsBetween(-5, 0)
    w = h.select(
        "event_type",
        "hour_s",
        F.sum("n").over(w1).alias("n_1h"),
        F.sum("errs").over(w1).alias("e_1h"),
        F.sum("n").over(w6).alias("n_6h"),
        F.sum("errs").over(w6).alias("e_6h"),
    )
    r1 = "e_1h * 1000000 DIV n_1h"
    r6 = "e_6h * 1000000 DIV n_6h"
    burn = f"({r1}) * 1000 DIV greatest({r6}, 1)"
    return w.select(
        "event_type",
        "hour_s",
        F.expr(r1).cast("bigint").alias("rate_1h_ppm"),
        F.expr(r6).cast("bigint").alias("rate_6h_ppm"),
        F.expr(f"CASE WHEN e_6h = 0 THEN 0 ELSE {burn} END")
        .cast("bigint")
        .alias("burn_rate_milli"),
        F.expr(
            f"CASE WHEN e_6h > 0 AND {burn} > 2000 THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("alert"),
    )


# --- events_anova_f ---------------------------------------------------------
#
# One-way ANOVA F across event types (k > 2 groups — the gap between
# events_ab_ttest's two-sample test and "which of my five variants
# differ at all"). Accumulation is exact integer centi-units (Σx,
# Σx² as bigints — the int64 budget holds through the tested SFs and
# is documented); each group's between-term s_g²/n_g is computed in
# ONE mirrored double expression and milli-quantized BEFORE the
# cross-group bigint sum (the ln()-discipline applied to squares),
# so no cross-row float accumulation exists anywhere.


_ANOVA_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s_g,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS q_g
      FROM events GROUP BY 1),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(q_g) AS BIGINT) AS q,
             CAST(sum(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g * 1000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sum_term_milli
      FROM g)
    SELECT k, n,
           CAST(sum_term_milli
                - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5) AS BIGINT)
                AS BIGINT) AS ssb_milli,
           CAST(q * 1000 - sum_term_milli AS BIGINT) AS ssw_milli,
           CAST(floor(
             (CAST(sum_term_milli
                   - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5)
                          AS BIGINT) AS DOUBLE) / (k - 1))
             / (CAST(q * 1000 - sum_term_milli AS DOUBLE) / (n - k))
             * 1000000 + 0.5) AS BIGINT) AS f_micro
    FROM t
    """


@register("events_anova_f", oracle=_ANOVA_SQL, tags=("events", "stats", "ml"))
def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over event types (milli sums, micro F).

    Shapes: one map-side-combined group aggregate (k rows), one k-row
    rollup — nothing after the scan exceeds |types| rows. Int64
    budget: Σx² in centi² ≤ 10⁸ per row × 10⁹ rows = 10¹⁷ (sf100
    envelope); past that the q_g column widens to decimal, same
    plan."""
    ev = table(spark, sf_dir, "events")
    xc = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    g = ev.select("event_type", xc.alias("xc")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("xc").cast("bigint").alias("s_g"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("q_g"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("q_g").cast("bigint").alias("q"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g * 1000 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sum_term_milli"),
    )
    gt = "CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5) AS BIGINT)"
    ssb = f"sum_term_milli - {gt}"
    ssw = "q * 1000 - sum_term_milli"
    return t.select(
        "k",
        "n",
        F.expr(ssb).cast("bigint").alias("ssb_milli"),
        F.expr(ssw).cast("bigint").alias("ssw_milli"),
        F.expr(
            f"CAST(floor((CAST({ssb} AS DOUBLE) / (k - 1))"
            f" / (CAST({ssw} AS DOUBLE) / (n - k)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("f_micro"),
    )


# --- events_ab_power --------------------------------------------------------
#
# A/B power analysis: per event_type, the required per-arm sample
# size to detect a 2% relative lift at α = 0.05 / power = 0.8
# (n = 2(z_α/2+z_β)²σ²/δ²) and whether the CURRENT arms already
# clear it — the "how long must this test run" planning number.
# Variance comes from exact integer moments; the closed form is one
# mirrored double expression, quantized. z constants are literals.

_POWER_Z = 2.8016  # z_{0.025} + z_{0.2} = 1.959964 + 0.841621, fixed literal
_POWER_REL = 0.02


_POWER_SQL = f"""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s_c,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS q_c
      FROM events GROUP BY 1)
    SELECT event_type, n,
           CAST(floor(
             2.0 * {_POWER_Z} * {_POWER_Z}
             * (CAST(q_c AS DOUBLE) / n
                - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))
             / (({_POWER_REL} * CAST(s_c AS DOUBLE) / n)
                * ({_POWER_REL} * CAST(s_c AS DOUBLE) / n)) + 0.5) AS BIGINT)
             AS n_required_per_arm,
           CAST(CASE WHEN CAST(n AS DOUBLE) / 2 >= floor(
             2.0 * {_POWER_Z} * {_POWER_Z}
             * (CAST(q_c AS DOUBLE) / n
                - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))
             / (({_POWER_REL} * CAST(s_c AS DOUBLE) / n)
                * ({_POWER_REL} * CAST(s_c AS DOUBLE) / n)) + 0.5)
                THEN 1 ELSE 0 END AS BIGINT) AS adequately_powered
    FROM m
    """


@register("events_ab_power", oracle=_POWER_SQL, tags=("events", "ml", "stats"))
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required per-arm n for a 2% lift at 80% power per event_type
    (integer) and the current-adequacy flag.

    Shapes: one map-side-combined moment aggregate; the closed form
    runs once per type from exact centi-integer moments. The
    experimentation kit is now plan → run → gate: THIS key sizes the
    test, events_ab_srm gates its health, ab_ttest / ab_mannwhitney /
    agg_ratio_ci read it out."""
    ev = table(spark, sf_dir, "events")
    xc = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    m = ev.select("event_type", xc.alias("xc")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s_c"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("q_c"),
    )
    var = (
        "(CAST(q_c AS DOUBLE) / n"
        " - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))"
    )
    delta = f"({_POWER_REL} * CAST(s_c AS DOUBLE) / n)"
    req = (
        f"floor(2.0 * {_POWER_Z} * {_POWER_Z} * {var}"
        f" / ({delta} * {delta}) + 0.5)"
    )
    return m.select(
        "event_type",
        "n",
        F.expr(f"CAST({req} AS BIGINT)").alias("n_required_per_arm"),
        F.expr(
            f"CAST(CASE WHEN CAST(n AS DOUBLE) / 2 >= {req}"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("adequately_powered"),
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
