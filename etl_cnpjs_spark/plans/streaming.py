"""Streaming-shaped plans over `events` (stream_*), registered in their
batch form (the driver's oracle runs batch SQL; TESTDATA is static
parquet).

The SAME transforms execute under Structured Streaming — readStream →
withWatermark → transform → writeStream — in tests/test_streaming.py.
That is the contract: batch and stream share one definition, so the
oracle that validates the batch form validates the streaming semantics
for all on-time data (late-data handling is watermark-dependent and
exercised in the streaming tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import register
from etl_cnpjs_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@register(
    "stream_tumbling",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-min event-time windows (batch form of the streaming
    aggregation — identical transform runs under readStream with
    withWatermark('ts', '1 hour'); see streaming/windows.py)."""
    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "stream_sliding",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS s0
      FROM events),
    x AS (
      SELECT event_type, value,
             unnest([s0 - 300, s0]) AS ws
      FROM e)
    SELECT make_timestamp(ws * 1000000) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM x
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-min/5-min windows: every event counted in the 2 windows
    covering it. The oracle expands membership explicitly (each event →
    window starts s0-300 and s0, width/slide = 2) — the same expansion
    Spark's window() performs internally."""
    return sliding_counts(table(spark, sf_dir, "events"))


@register(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             -- STRICTLY greater: Spark's session_window merges sessions
             -- that touch (an event at exactly last_ts + gap extends the
             -- session), so a new session starts only past the gap.
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             -- ORDER BY must match the lag window's (ts, event_id) exactly:
             -- with ts alone, tied timestamps at a session boundary make the
             -- cumsum order ambiguous and can split a session differently
             -- from the flag pass (the events_sessionize bug class).
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts)                        AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE   AS session_end,
           COUNT(*)                       AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, sid
    """,
    tags=("streaming", "window", "session"),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap sessionization via Spark's native
    session_window (mergeable, streaming-state capable). The oracle
    re-derives session semantics with the lag/cumsum formulation:
    new session when ts - prev > gap — STRICTLY greater, because
    session_window merges sessions that touch — end = last event + gap
    (exclusive). Tie/boundary edges pinned by
    tests/test_streaming.py::test_session_oracle_tie_at_boundary."""
    return session_windows(table(spark, sf_dir, "events"))


@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type, ts FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup, batch form (streaming face with
    dropDuplicatesWithinWatermark + 1 h horizon runs in
    tests/test_streaming.py::test_stream_dedup_within_watermark). The
    output is the distinct natural-key set, so results are independent
    of arrival order — the property that lets the batch oracle validate
    the streaming operator."""
    from etl_cnpjs_spark.streaming.windows import dedup_events

    return dedup_events(table(spark, sf_dir, "events"))


@register(
    "stream_join",
    oracle="""
    SELECT c.event_id AS cid, b.event_id AS bid,
           CAST(epoch_us(b.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events c JOIN events b
      ON c.event_type = 'click' AND b.event_type = 'purchase'
     AND c.user_id = b.user_id
     AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 10 MINUTE
    """,
    tags=("streaming", "join"),
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch form: clicks matched to the
    same user's purchases within 10 minutes (attribution). The identical
    transform (streaming/windows.py::click_purchase_join) runs under
    readStream with watermarks on BOTH sides in
    tests/test_streaming.py::test_stream_stream_interval_join — the
    interval + watermark bound state retention, which is what makes the
    join runnable unbounded. Batch plan shape: one hash(user) exchange
    feeding an equi-join with the time interval as residual (never a
    cross product); lag is exact epoch-µs integer arithmetic so the
    oracle hash-matches."""
    from etl_cnpjs_spark.streaming.windows import click_purchase_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"),
        F.col("ts").alias("bts"),
        F.col("event_id").alias("bid"),
    )
    return click_purchase_join(clicks, buys)


@register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT)                            AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)   AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's arbitrary-state surface (applyInPandasWithState —
    the KeyedProcessFunction analog), batch form: per-user running
    (count, value total). The STREAMING face
    (streaming/stateful.py::running_user_totals) carries two numbers of
    state per key across micro-batches and is proven in
    tests/test_streaming.py::test_stateful_running_totals to converge
    to exactly this aggregate once the stream drains — the final-state
    equivalence that lets a batch oracle validate a stateful streaming
    operator (the same contract stream_dedup and stream_join use). The
    batch twin accumulates in decimal so the oracle is bit-exact; the
    streaming op's float state is arrival-ordered and is checked to
    1e-6 in its own test. One hash(user_id) exchange either way."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias(
            "total_value"
        ),
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT s.event_id AS sid, e.event_id AS eid,
           CAST(epoch_us(e.ts) - epoch_us(s.ts) AS BIGINT) AS lag_us
    FROM events s JOIN events e
      ON s.event_type = 'signup' AND e.event_type = 'error'
     AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 5 MINUTE
    """,
    tags=("streaming", "join", "interval"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join with a RANGE-ONLY condition (no natural equi
    key), batch form: every error within 5 minutes after ANY signup —
    global incident attribution. stream_join covers the equi+time-window
    state shape; this key covers the one Spark's stream-stream join
    handles worst naively (keyless state = probe everything), solved by
    a synthetic 5-minute time-bucket key: the signup's validity interval
    explodes to its ≤ 2 buckets, the error maps to its single bucket (a
    point never explodes), bucket equality carries the join and the true
    range predicate is residual — the bin-blocking technique shared with
    point_in_interval_join, here keyed on TIME. Exactly one candidate
    meeting per true pair, so no distinct. The identical transform
    (streaming/windows.py::signup_error_interval_join) runs under
    readStream with watermarks on both sides in
    tests/test_streaming.py::test_stream_range_only_interval_join —
    bucket = state-store key, watermark + 5-min bound = state eviction.
    Batch plan shape: one hash(__bucket) exchange per side, never a
    cartesian (plan-asserted in tests/test_plans.py). Exact integer µs
    lag, hash-green oracle."""
    from etl_cnpjs_spark.streaming.windows import signup_error_interval_join

    ev = table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"), F.col("ts").alias("sts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("ts").alias("ets")
    )
    return signup_error_interval_join(signups, errors)


# --- stream_topk --------------------------------------------------------------
#
# Streaming leaderboard: top-k users by lifetime purchase value — the
# complete-output-mode aggregation+sort+limit face Structured Streaming
# supports natively (unlike append mode, where sorting is illegal).
# Batch form here is the oracle contract; tests/test_streaming.py runs
# the IDENTICAL transform under readStream and pins equality.

_TOPK_USERS = 10


@register(
    "stream_topk",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY SUM(CAST(value AS DECIMAL(27,6))) DESC, user_id
    LIMIT {_TOPK_USERS}
    """,
    tags=("streaming", "sort", "agg"),
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} users by decimal-exact total event value (ties broken by
    user_id — a total order, so the cut line is deterministic). Batch
    plan: partial-agg shuffle to user grain, then TakeOrderedAndProject
    (no global sort materialization). Streaming face: the same
    groupBy→orderBy→limit under complete output mode."""
    from etl_cnpjs_spark.streaming.windows import top_users_by_value

    return top_users_by_value(table(spark, sf_dir, "events"), _TOPK_USERS)
