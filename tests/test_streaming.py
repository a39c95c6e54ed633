"""Structured Streaming execution tests: the SAME transforms the batch
oracle validated, executed as streams (file source → watermark →
windowed agg / custom state → memory sink, availableNow trigger)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.streaming.stateful import running_user_totals
from etl_cnpjs_spark.streaming.windows import tumbling_counts


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage events as a clean µs-timestamp parquet dir (the ns source
    needs the catalog's conversion, readStream needs a directory)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _run_to_memory(stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_tumbling_matches_batch(spark, sf_dir, events_dir):
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_counts(table(spark, sf_dir, "events")).collect()
    }
    stream_src = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .parquet(events_dir)
        .withWatermark("ts", "1 hour")
    )
    _run_to_memory(tumbling_counts(stream_src), "t_tumbling", "complete")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_tumbling").collect()
    }
    assert streamed == batch


def test_watermark_drops_late_data(spark, events_dir, tmp_path):
    """An event arriving in a later micro-batch, stamped far behind the
    advanced watermark, must be DROPPED from the windowed aggregate —
    the late-data semantics SURVEY.md §7.3-8 calls out. Two staged
    micro-batches (append mode, per-file trigger): batch 1 advances the
    watermark to max(ts)-10s; batch 2's straggler sits hours earlier."""
    import pandas as pd

    src = str(tmp_path / "late_src")
    ck = str(tmp_path / "late_ck")
    schema = "ts timestamp, user_id bigint, value double"  # watermark needs TIMESTAMP, not NTZ
    on_time = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 10:00:01", "2024-01-01 10:00:02", "2024-01-01 12:00:00"]
                ),
                "user_id": [1, 2, 1],
                "value": [1.0, 2.0, 4.0],
            }
        ),
        schema,
    )
    late = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 10:00:03"]),  # hours behind wm
                "user_id": [3],
                "value": [8.0],
            }
        ),
        schema,
    )
    on_time.coalesce(1).write.mode("overwrite").parquet(src)  # one file = one deterministic micro-batch

    def agg(stream_df):
        return (
            stream_df.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.sum("value").alias("sv"))
            .select(F.col("w.start").alias("ws"), "sv")
        )

    out = str(tmp_path / "late_out")

    def run_once():
        q = (
            agg(
                spark.readStream.schema(on_time.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # second run: the straggler arrives after the watermark advanced
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {r.ws: r.sv for r in spark.read.parquet(out).collect()}
    # the 10:00 window finalized with only the on-time events; the late
    # straggler (value=8.0) was dropped, not merged and not re-emitted
    # append mode emits only finalized windows: exactly the on-time
    # 10:00 window (1.0+2.0); had the straggler NOT been dropped it would
    # have re-opened that window and flushed an 8.0 row in run 2
    assert list(got.values()) == [3.0]


def test_stream_dedup_matches_batch_distinct(spark, sf_dir, events_dir):
    """Streaming deduplication: dropDuplicates on (user_id, event_type)
    over the event stream must emit exactly the batch-distinct key set —
    the streaming face of the dedup_exact operator. (State here is
    unbounded; production pairs this with dropDuplicatesWithinWatermark
    to bound it — same plan shape.)"""
    batch = {
        (r.user_id, r.event_type)
        for r in table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    stream_src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    deduped = stream_src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    _run_to_memory(deduped, "t_dedup", "append")
    got = {(r.user_id, r.event_type) for r in spark.table("t_dedup").collect()}
    assert got == batch


def test_stream_stream_interval_join(spark, sf_dir, events_dir):
    """Stream-stream inner join with an event-time interval: each click
    joined to the same user's purchases within the next 10 minutes.
    Both sides carry watermarks (required: the interval + watermark bound
    how long click state is retained — unbounded joins never GC). Result
    must equal the identical batch join."""
    ev = table(spark, sf_dir, "events")
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    buys_b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("bts"), F.col("event_id").alias("bid")
    )
    from etl_cnpjs_spark.streaming.windows import click_purchase_join

    batch = {
        (r.cid, r.bid)
        for r in click_purchase_join(clicks_b, buys_b).select("cid", "bid").collect()
    }

    src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(events_dir)
    clicks_s = (
        src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid"))
        .withWatermark("cts", "1 hour")
    )
    buys_s = (
        src.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("bu"), F.col("ts").alias("bts"), F.col("event_id").alias("bid"))
        .withWatermark("bts", "1 hour")
    )
    _run_to_memory(
        click_purchase_join(clicks_s, buys_s).select("cid", "bid"),
        "t_ssjoin",
        "append",
    )
    got = {(r.cid, r.bid) for r in spark.table("t_ssjoin").collect()}
    assert got == batch
    assert batch, "fixture should produce at least one click→purchase pair"


def test_foreachbatch_custom_sink(spark, sf_dir, events_dir, tmp_path):
    """foreachBatch — the escape hatch for sinks Structured Streaming
    lacks natively (JDBC upsert, MERGE, multi-table writes): each
    micro-batch arrives as a normal batch DataFrame plus a batch id for
    idempotence. Here: per-batch event-type counts appended parquet,
    re-aggregated at the end; total must reconcile with the batch
    count — the exactly-once-per-batch contract."""
    out = str(tmp_path / "fb_out")
    expected = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def sink(batch_df, batch_id: int):
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "fb_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_type: r.total
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got == expected


def test_stateful_running_totals(spark, sf_dir, events_dir):
    batch = {
        r.user_id: (r.n_events, r.total_value)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .collect()
    }
    stream_src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    _run_to_memory(running_user_totals(stream_src), "t_totals", "update")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("t_totals").collect()
    }
    assert set(got) == set(batch)
    for uid, (n, total) in batch.items():
        gn, gtotal = got[uid]
        assert gn == n
        # float sum order may differ; relative tolerance so the bound
        # holds at any fixture scale, not just sf0.01
        assert math.isclose(gtotal, total, rel_tol=1e-9, abs_tol=1e-9)


def test_session_oracle_tie_at_boundary(spark):
    """Tie-forcing fixture for the session oracle: two events share the
    exact session-boundary timestamp. The cumsum window must order by
    (ts, event_id) like the lag window — with ts alone the tie makes the
    running sum ambiguous and the oracle can split sessions differently
    from Spark's native session_window (the events_sessionize bug class,
    commit 6e73630)."""
    import datetime as dt

    import duckdb

    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.streaming.windows import session_windows

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    gap = dt.timedelta(minutes=30)
    sec = dt.timedelta(seconds=1)
    rows = [
        (1, 101, t0, 1.0),
        (1, 102, t0, 2.0),               # tie inside session 1
        # Exactly gap later: session_window merges sessions that TOUCH,
        # so these extend session 1 (they also tie with each other,
        # forcing the cumsum order in the oracle).
        (1, 103, t0 + gap, 3.0),
        (1, 104, t0 + gap, 4.0),
        # One second PAST the touch point of the extended session
        # (last ts 10:30 + gap = 11:00) → genuinely new session.
        (1, 105, t0 + 2 * gap + sec, 5.0),
        (2, 201, t0, 6.0),
    ]
    fixture = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in session_windows(fixture).collect()
    }
    expected = {
        (1, t0, t0 + 2 * gap): (4, 10.0),
        (1, t0 + 2 * gap + sec, t0 + 3 * gap + sec): (1, 5.0),
        (2, t0, t0 + gap): (1, 6.0),
    }
    assert got == expected

    con = duckdb.connect()
    con.register("events", fixture.toPandas())
    oracle = {
        (r[0], r[1], r[2]): (r[3], r[4])
        for r in con.execute(QUERIES["stream_session"].oracle).fetchall()
    }
    assert oracle == expected


def test_stream_dedup_within_watermark(spark, sf_dir, events_dir, tmp_path):
    """dropDuplicatesWithinWatermark over the event stream emits exactly
    the batch-distinct key set when all data is on time (the batch form
    is the all-data limit of the operator), while bounding the dedup
    state store to the watermark horizon."""
    from etl_cnpjs_spark.streaming.windows import dedup_events

    batch = {
        (r.user_id, r.event_type, r.ts)
        for r in dedup_events(table(spark, sf_dir, "events")).collect()
    }
    src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    _run_to_memory(dedup_events(src, streaming=True), "t_dedup_wm", "append")
    got = {
        (r.user_id, r.event_type, r.ts) for r in spark.table("t_dedup_wm").collect()
    }
    assert got == batch


def test_stream_range_only_interval_join(spark, sf_dir, events_dir):
    """Stream-stream join with a RANGE-ONLY predicate (no natural equi
    key): errors within 5 minutes after any signup. The transform
    carries a synthetic time-bucket equi key (bin-blocking in stream
    form — signup_error_interval_join), so the state store groups by
    bucket instead of probing every buffered row; both sides carry
    watermarks. Streaming result must equal the identical batch join."""
    from etl_cnpjs_spark.streaming.windows import signup_error_interval_join

    ev = table(spark, sf_dir, "events")
    sb = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"), F.col("ts").alias("sts")
    )
    eb = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("ts").alias("ets")
    )
    batch = {
        (r.sid, r.eid)
        for r in signup_error_interval_join(sb, eb).select("sid", "eid").collect()
    }

    src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    ss = src.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"), F.col("ts").alias("sts")
    )
    es = src.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("ts").alias("ets")
    )
    _run_to_memory(
        signup_error_interval_join(ss, es, streaming=True).select("sid", "eid"),
        "t_rangejoin",
        "append",
    )
    got = {(r.sid, r.eid) for r in spark.table("t_rangejoin").collect()}
    assert got == batch
    assert batch, "fixture should produce at least one signup→error pair"


def test_streaming_scd2_matches_batch_closed_intervals(spark, sf_dir, tmp_path):
    """Streaming SCD2 build (applyInPandasWithState, append mode): the
    change feed replays wave-by-wave in log order (maxFilesPerTrigger=1
    over sequentially-written files); per-key state carries the open
    interval; emitted rows must equal EXACTLY the batch cdc_scd2 build's
    closed intervals — the final-state equivalence contract the other
    stateful streaming ops use. Restatement suppression (a v2 record
    restating v1's value opens no interval) must hold across the
    batch/stream boundary too."""
    import time as _time

    from etl_cnpjs_spark.plans.events import cdc_scd2, scd2_feed_waves
    from etl_cnpjs_spark.streaming.stateful import scd2_closed_intervals

    batch = cdc_scd2(spark, sf_dir)
    expected = {
        (r.key, r.status, r.f, r.t)
        for r in batch.filter(F.col("valid_to").isNotNull())
        .select(
            "key",
            "status",
            F.unix_micros("valid_from").alias("f"),
            F.unix_micros("valid_to").alias("t"),
        )
        .collect()
    }

    feed_dir = str(tmp_path / "scd2_feed")
    for wave in scd2_feed_waves(spark, sf_dir):
        (
            wave.select(
                "key", F.unix_micros("eff_ts").alias("eff_ts_us"), "status"
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed_dir)
        )
        _time.sleep(0.3)  # distinct file mtimes => deterministic log order

    src = (
        spark.readStream.schema("key long, eff_ts_us long, status string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    _run_to_memory(scd2_closed_intervals(src), "t_scd2_stream", "append")
    got = {
        (r.key, r.status, r.valid_from_us, r.valid_to_us)
        for r in spark.table("t_scd2_stream").collect()
    }
    assert got == expected
    assert expected, "fixture must close at least one interval"


def test_streaming_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Streaming last-touch attribution (applyInPandasWithState, append
    mode): events replay in event-time waves (per-user cross-batch
    order, the CDC-log precondition); the per-purchase rows emitted must
    aggregate to EXACTLY the batch events_attribution channel rollup —
    counts integer-equal, value totals to 1e-6 (stream sums floats in
    arrival order, the batch twin in decimal)."""
    import time as _time

    from etl_cnpjs_spark.plans.events import events_attribution
    from etl_cnpjs_spark.streaming.stateful import last_touch_attribution

    batch = {
        r.attributed: (r.purchases, r.attributed_value)
        for r in events_attribution(spark, sf_dir).collect()
    }

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    lo, hi = bounds[0], bounds[1] + 1
    step = (hi - lo) // 4 + 1
    feed_dir = str(tmp_path / "attr_feed")
    for i in range(4):
        (
            ev.filter(
                (F.col("ts_us") >= lo + i * step)
                & (F.col("ts_us") < lo + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed_dir)
        )
        _time.sleep(0.3)  # distinct file mtimes => deterministic log order

    src = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_us long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    _run_to_memory(last_touch_attribution(src), "t_attr_stream", "append")
    rows = spark.table("t_attr_stream").collect()
    got: dict[str, list] = {}
    for r in rows:
        agg = got.setdefault(r.attributed, [0, 0.0])
        agg[0] += 1
        agg[1] += r.value
    assert set(got) == set(batch)
    for ch, (n, total) in batch.items():
        assert got[ch][0] == n, ch
        assert math.isclose(got[ch][1], total, rel_tol=1e-9, abs_tol=1e-9), ch


def test_stream_topk_complete_mode(spark, sf_dir, events_dir):
    """Streaming leaderboard: groupBy→orderBy→limit is legal ONLY in
    complete output mode (the sink rewrites the whole result each
    trigger). Once the availableNow stream drains, the memory table must
    hold exactly the batch top-k — same users, counts, and decimal-exact
    totals."""
    from etl_cnpjs_spark.streaming.windows import top_users_by_value

    batch = [
        (r.user_id, r.n_events, r.total_value)
        for r in top_users_by_value(table(spark, sf_dir, "events"), 10).collect()
    ]
    src = spark.readStream.schema(spark.read.parquet(events_dir).schema).parquet(
        events_dir
    )
    _run_to_memory(top_users_by_value(src, 10), "t_topk", "complete")
    got = [
        (r.user_id, r.n_events, r.total_value)
        for r in spark.table("t_topk")
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .collect()
    ]
    assert [g[:2] for g in got] == [b[:2] for b in batch]
    for g, b in zip(got, batch):
        assert math.isclose(g[2], b[2], rel_tol=1e-9, abs_tol=1e-9)


def test_stateful_restart_from_checkpoint(spark, sf_dir, tmp_path):
    """Checkpoint kill-and-resume — the exactly-once recovery claim a
    100 TB pipeline actually leans on. Run the stateful per-user totals
    (applyInPandasWithState) over half the feed, STOP the query, drop
    the second half into the source, and restart from the SAME
    checkpoint under a new sink: the recovered run must (a) re-emit
    only the keys the new data touches (update mode over restored
    state, not a replay), and (b) report totals equal to the full-feed
    batch aggregate — which is only possible if the first run's state
    store was recovered, not recomputed."""
    import glob
    import shutil

    ev = table(spark, sf_dir, "events")
    half = F.pmod(F.hash("event_id"), F.lit(2))
    c1, c2 = ev.filter(half == 0), ev.filter(half == 1)
    d1, d2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    c1.coalesce(1).write.parquet(d1)
    c2.coalesce(1).write.parquet(d2)

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    for i, f in enumerate(sorted(glob.glob(f"{d1}/*.parquet"))):
        shutil.copy(f, src / f"a{i}.parquet")
    schema = spark.read.parquet(d1).schema

    def start(out_dir):
        # memory sink can't recover from a checkpoint; foreachBatch →
        # parquet-append is the restartable sink shape (what a real
        # pipeline's idempotent batch writer looks like)
        s = spark.readStream.schema(schema).parquet(str(src))
        return (
            running_user_totals(s)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("bid", F.lit(bid))
                .write.mode("append")
                .parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    def agg(df):
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
            .collect()
        }

    def last_update(out_dir):
        # a run may span several micro-batches; a key's FINAL state is
        # its highest-batch-id emission
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.read.parquet(out_dir)
            .orderBy("bid")
            .collect()
        }

    out1, out2 = str(tmp_path / "out1"), str(tmp_path / "out2")
    q1 = start(out1)
    q1.awaitTermination(120)
    run1 = last_update(out1)
    b1 = agg(c1)
    assert set(run1) == set(b1)
    for uid, (n, total) in b1.items():
        assert run1[uid][0] == n
        assert math.isclose(run1[uid][1], total, rel_tol=1e-9, abs_tol=1e-9)

    # the "kill": q1 is terminated; new files land while the query is down
    for i, f in enumerate(sorted(glob.glob(f"{d2}/*.parquet"))):
        shutil.copy(f, src / f"b{i}.parquet")

    q2 = start(out2)
    q2.awaitTermination(120)
    run2 = last_update(out2)
    full, b2 = agg(ev), agg(c2)
    # (a) update mode re-emits exactly the keys the new files touched
    assert set(run2) == set(b2)
    # (b) their totals are the FULL-feed aggregate: state survived the stop
    for uid in run2:
        assert run2[uid][0] == full[uid][0], uid
        assert math.isclose(run2[uid][1], full[uid][1], rel_tol=1e-9, abs_tol=1e-9), uid
    # the recovery is load-bearing: at least one key's restart total
    # exceeds what the second half alone could produce
    carried = [u for u in run2 if u in b1]
    assert carried
    assert all(run2[u][0] > b2[u][0] for u in carried)


def test_streaming_cep_matches_batch_pattern_match(spark, sf_dir, tmp_path):
    """The CEP automaton face must converge to the batch regex verdict:
    replay the event log in two ts-ordered waves (per-user order
    preserved across batches — the CDC-log precondition the operator
    documents), drain, and the last emitted row per user must equal
    events_pattern_match's (seq_len, converted_clean)."""
    import glob
    import shutil

    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.streaming.stateful import cep_clean_conversion

    batch = {
        r.user_id: (r.seq_len, bool(r.converted_clean))
        for r in QUERIES["events_pattern_match"].fn(spark, sf_dir).collect()
    }

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    mid = ev.selectExpr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) AS m"
    ).collect()[0].m
    w1, w2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    ev.filter(F.unix_micros("ts") < mid).coalesce(1).write.parquet(w1)
    ev.filter(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(w2)

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = spark.read.parquet(w1).schema

    def drain():
        s = spark.readStream.schema(schema).parquet(str(src))
        q = (
            cep_clean_conversion(s)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("bid", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, wave in enumerate((w1, w2)):
        for j, f in enumerate(sorted(glob.glob(f"{wave}/*.parquet"))):
            shutil.copy(f, src / f"wave{i}_{j}.parquet")
        drain()

    rows = spark.read.parquet(out).orderBy("bid").collect()
    got = {}
    for r in rows:  # later batch overwrites: final state per user
        got[r.user_id] = (r.seq_len, r.converted_clean == "true")
    assert got == batch


def test_python_datasource_streaming_reader(spark, tmp_path):
    """Custom STREAMING Python DataSource (Spark 4
    SimpleDataSourceStreamReader) — the streaming face of
    source_python_ds's extensibility seam: offsets are the source's
    cursor (for a real feed: a log position / page token), each
    micro-batch reads [start, end) and commits the new offset through
    the checkpoint. The bounded counter feed must land exactly once
    across micro-batches (offset tracking, no overlap/loss) and in MORE
    than one batch (genuinely incremental, not a one-shot read)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    N, STEP = 1000, 300

    class _CounterStream(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"offset": 0}

        def read(self, start):
            s = int(start["offset"])
            e = min(s + STEP, N)
            return iter([(i, i * i) for i in range(s, e)]), {"offset": e}

        def readBetweenOffsets(self, start, end):
            return iter(
                [(i, i * i) for i in range(int(start["offset"]), int(end["offset"]))]
            )

    class CounterSource(DataSource):
        @classmethod
        def name(cls):
            return "counterstream"

        def schema(self):
            return "id bigint, sq bigint"

        def simpleStreamReader(self, schema):
            return _CounterStream()

    spark.dataSource.register(CounterSource)
    out = str(tmp_path / "pyds_out")
    q = (
        spark.readStream.format("counterstream")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.withColumn("bid", F.lit(bid))
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "pyds_ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 120
    done = False
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= N:
                done = True
                break
        except Exception:
            pass  # sink dir not created yet
        time.sleep(1)
    q.stop()
    q.awaitTermination(30)
    assert done, "stream did not deliver the bounded feed in time"
    rows = spark.read.parquet(out).collect()
    got = {(r.id, r.sq) for r in rows}
    assert got == {(i, i * i) for i in range(N)}  # exactly once, no dupes
    assert len({r.bid for r in rows}) >= 2, "feed must span multiple micro-batches"


def test_streaming_cdc_upsert_matches_batch_merge(spark, sf_dir, tmp_path):
    """Streaming MERGE INTO: the CDC feed arrives as a STREAM (version-1
    changes in one micro-batch, version-2 changes in a later one) and a
    foreachBatch upsert merges each batch into a parquet state table
    with latest-wins-by-version semantics and an atomic directory swap
    (the os.replace idempotent-publish discipline of cnpj/ingest). The
    final applied table must equal the BATCH cdc_apply result — which
    holds only if the upsert keeps per-key latest-wins ACROSS
    micro-batches through the state table, not merely within one batch."""
    import os
    import shutil

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

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    feed_schema = f1.schema

    def drop_feed(df, prefix):
        import glob

        d = str(tmp_path / f"stage_{prefix}")
        df.coalesce(1).write.parquet(d)
        for i, f in enumerate(sorted(glob.glob(f"{d}/*.parquet"))):
            shutil.copy(f, src / f"{prefix}{i}.parquet")

    def upsert(batch_df, batch_id):
        from pyspark.sql import Window as W

        incoming = batch_df
        if os.path.exists(state):
            cur = batch_df.sparkSession.read.parquet(state)
            incoming = cur.unionByName(incoming)
        w = W.partitionBy("key").orderBy(F.desc("version"))
        merged = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tmp_out = state + f".tmp{batch_id}"
        merged.write.mode("overwrite").parquet(tmp_out)
        old = state + ".old"
        if os.path.exists(state):
            os.replace(state, old)
        os.replace(tmp_out, state)
        shutil.rmtree(old, ignore_errors=True)

    def run_once():
        q = (
            spark.readStream.schema(feed_schema)
            .parquet(str(src))
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # micro-batch 1: version-1 changes only
    drop_feed(f1, "a")
    run_once()
    # micro-batch 2 (separate run → separate batch): version-2 changes
    drop_feed(f2, "b")
    run_once()

    applied = (
        o.join(
            F.broadcast(
                spark.read.parquet(state).select("key", "op", "new_status")
            ),
            o.o_orderkey == F.col("key"),
            "left",
        )
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            "o_orderkey",
            F.coalesce("new_status", "o_orderstatus").alias("status"),
        )
    )
    got = {r.o_orderkey: r.status for r in applied.collect()}
    from etl_cnpjs_spark.plans import QUERIES

    want = {
        r.o_orderkey: r.status
        for r in QUERIES["cdc_apply"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # the cross-batch property is load-bearing: some keys were updated in
    # BOTH batches and must show version 2
    assert any(s.startswith("v2-") for s in got.values())


def test_stream_locf_matches_batch(spark, sf_dir, tmp_path):
    """Streaming LOCF (value state, applyInPandasWithState) over a
    TWO-micro-batch ordered feed converges to the events_locf batch
    key: per-event filled values identical, including leading-gap
    NULLs — state must carry the last reading ACROSS the batch
    boundary."""
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.streaming.stateful import locf_fill

    batch = {
        (r.user_id, r.event_id): (r.filled_micro, r.was_missing)
        for r in QUERIES["events_locf"].fn(spark, sf_dir).collect()
    }

    feed = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").cast("bigint").alias("s"),
            F.when(F.col("event_id") % 5 == 0, F.lit(None))
            .otherwise(F.floor(F.col("value") * 1000000 + 0.5).cast("bigint"))
            .alias("x_micro"),
        )
    )
    mid = feed.approxQuantile("s", [0.5], 0.0)[0]
    import os as _o
    import shutil

    d = str(tmp_path / "locf_feed")
    dst = str(tmp_path / "feed_flat")
    _o.makedirs(dst)
    # two files split by time: cross-batch per-key order holds; name
    # prefixes force batch1 before batch2 under maxFilesPerTrigger=1
    for part, flt in (("a_batch1", F.col("s") <= mid), ("b_batch2", F.col("s") > mid)):
        pdir = f"{d}/{part}"
        feed.filter(flt).coalesce(1).write.parquet(pdir)
        pq = next(f for f in _o.listdir(pdir) if f.endswith(".parquet"))
        shutil.copy(f"{pdir}/{pq}", f"{dst}/{part}.parquet")

    src = (
        spark.readStream.schema(spark.read.parquet(dst).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dst)
    )
    _run_to_memory(locf_fill(src), "t_locf", "append")
    got = {
        (r.user_id, r.event_id): (r.filled_micro, r.was_missing)
        for r in spark.table("t_locf").collect()
    }
    assert got == batch


def test_stream_static_lsh_probe_matches_batch_incremental(spark, sf_dir, tmp_path):
    """Stream-static join face of dedup_incremental: incoming documents
    arrive as a STREAM, band-key in-flight (deterministic expressions —
    minhash needs no state), probe the STATIC pre-banded corpus posting
    table, dedup candidates, and verify exact Jaccard against the static
    shingle frame. The drained result must equal the batch
    dedup_incremental key exactly — the crawl-pipeline "screen new docs
    against the corpus before they enter training data" shape, proven
    under readStream. (Three stream-static inner joins + streaming
    dropDuplicates in one append-mode query.)"""
    from etl_cnpjs_spark.operators.dedup import minhash_band_keys
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT, _doc_shingles
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD

    batch_expected = {
        (r.new_id, r.corpus_id)
        for r in QUERIES["dedup_incremental"].fn(spark, sf_dir).collect()
    }

    # static side: corpus postings + shingle arrays (what a production
    # pipeline maintains as a bucketed table — dedup_minhash_persist)
    signed = _doc_shingles(spark, sf_dir).select(
        "doc_id", "sh", minhash_band_keys(F.col("sh"), bands=8, rows=2).alias("bk")
    )
    corpus = signed.filter(F.col("doc_id") < _INCR_SPLIT).localCheckpoint()
    corpus_posts = corpus.select(
        F.col("doc_id").alias("corpus_id"), F.posexplode("bk").alias("band", "key")
    )
    corpus_sh = corpus.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sha"))

    # stream side: the incoming batch docs replayed through readStream
    feed = str(tmp_path / "incoming_docs")
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") >= _INCR_SPLIT)
    docs.select("doc_id", "text").write.mode("overwrite").parquet(feed)
    src = spark.readStream.schema("doc_id long, text string").parquet(feed)

    toks = F.split(F.trim("text"), r"\s+")
    from etl_cnpjs_spark.functions.text import shingles

    stream_signed = src.select(
        F.col("doc_id").alias("new_id"), shingles(toks).alias("shb")
    ).filter(F.size("shb") > 0)
    stream_posts = stream_signed.select(
        "new_id", "shb", F.posexplode(minhash_band_keys(F.col("shb"), bands=8, rows=2)).alias("band", "key")
    )
    cands = (
        stream_posts.join(corpus_posts, ["band", "key"])
        .select("new_id", "corpus_id", "shb")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    out = (
        cands.join(corpus_sh, "corpus_id")
        .select("new_id", "corpus_id", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    _run_to_memory(out, "t_lsh_probe", "append")
    got = {(r.new_id, r.corpus_id) for r in spark.table("t_lsh_probe").collect()}
    assert got == batch_expected


def test_python_stream_source_restart_from_checkpoint(spark, tmp_path):
    """Offset recovery of the Python streaming source: run the
    chunkstream feed at n=512 to completion through a checkpointed
    foreachBatch parquet sink, STOP, then restart the SAME checkpoint
    with the feed extended to n=1024. The restarted query must resume
    from the committed offset — the final table is exactly one copy of
    every row 0..1023 (no replays, no gaps), which exercises the
    SimpleDataSourceStreamReader offset/readBetweenOffsets contract the
    recovery path is built on."""
    from etl_cnpjs_spark.plans.io import _PYSTREAM_CHUNK, make_chunk_stream_source

    spark.dataSource.register(make_chunk_stream_source())
    out = tmp_path / "pystream_out"
    ckpt = str(tmp_path / "pystream_ckpt")
    out.mkdir()

    def run(n: int):
        def sink(batch_df, batch_id: int):
            batch_df.write.mode("append").parquet(str(out / "data"))

        q = (
            spark.readStream.format("chunkstream")
            .option("n", n)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    run(512)
    first = spark.read.parquet(str(out / "data")).count()
    assert first == 512
    run(1024)
    got = spark.read.parquet(str(out / "data"))
    assert got.count() == 1024  # nothing replayed, nothing lost
    rows = {(r.id, r.v, r.chunk) for r in got.collect()}
    assert rows == {(j, j * 7 % 97, j // _PYSTREAM_CHUNK) for j in range(1024)}


def _ingest_screen_fn(static_posts, static_sh, write_outcomes):
    """foreachBatch body of the crawl-ingest screen: candidates from the
    persisted posting table, exact-Jaccard verify against the persisted
    shingle frame, per-doc outcome attribution (eval partner beats train
    partner). `write_outcomes(df, batch_id)` owns the sink so tests can
    choose plain-append or the idempotent per-batch_id layout."""
    from etl_cnpjs_spark.operators.dedup import minhash_band_keys
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD

    def screen(bdf, batch_id: int):
        meta = bdf.select("doc_id", "lang", "n_tokens", "shb")
        posts = meta.filter(F.size("shb") > 0).select(
            "doc_id",
            F.posexplode(
                minhash_band_keys(F.col("shb"), bands=8, rows=2)
            ).alias("band", "key"),
        )
        cands = (
            posts.join(static_posts, ["band", "key"])
            .select("doc_id", "corpus_id")
            .distinct()
        )
        inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
        union = F.size("sha") + F.size("shb") - inter
        hits = (
            cands.join(static_sh, "corpus_id")
            .join(meta.select("doc_id", "shb"), "doc_id")
            .filter((inter / union) >= JACCARD_THRESHOLD)
            .groupBy("doc_id")
            .agg(F.max("vs_eval").alias("leaked"))
        )
        out = (
            meta.select("doc_id", "lang", "n_tokens")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                "n_tokens",
                F.when(F.col("leaked"), F.lit("leaked"))
                .when(F.col("leaked").isNotNull(), F.lit("dup"))
                .otherwise(F.lit("ingested"))
                .alias("outcome"),
            )
        )
        write_outcomes(out, batch_id)

    return screen


def _ingest_static_side(spark, sf_dir, tmp_path):
    """Persist (write once, read back) the corpus posting + shingle
    tables the ingest screen probes — the dedup_minhash_persist role."""
    from etl_cnpjs_spark.operators.dedup import minhash_band_keys
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT, _doc_shingles
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.registry import knuth32

    corpus = (
        _doc_shingles(spark, sf_dir)
        .filter(F.col("doc_id") < _INCR_SPLIT)
        .select(
            "doc_id",
            "sh",
            minhash_band_keys(F.col("sh"), bands=8, rows=2).alias("bk"),
        )
    )
    posts_dir = str(tmp_path / "corpus_posts")
    sh_dir = str(tmp_path / "corpus_sh")
    corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.posexplode("bk").alias("band", "key"),
    ).write.parquet(posts_dir)
    corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh").alias("sha"),
        (knuth32(F.col("doc_id")) < F.lit(_KEEP)).alias("vs_eval"),
    ).write.parquet(sh_dir)
    return spark.read.parquet(posts_dir), spark.read.parquet(sh_dir)


def _ingest_report(spark, outcomes):
    """Pack-on-snapshot + per-lang report over staged outcome rows —
    the closing batch stage both streaming-face tests share."""
    from etl_cnpjs_spark.operators.packing import greedy_pack_bins
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH

    surv = outcomes.filter(F.col("outcome") == "ingested").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"doc_id DIV {GREEDY_SHARD_WIDTH}").alias("shard"),
    )
    packed = surv.groupBy("lang", "shard").applyInPandas(
        greedy_pack_bins(GREEDY_PACK_BUDGET),
        "doc_id long, lang string, n_tokens int, shard long, bin long",
    )
    pk = (
        packed.groupBy("lang", "shard")
        .agg(
            (F.max("bin") + 1).cast("bigint").alias("bins"),
            F.sum("n_tokens").cast("bigint").alias("tok"),
        )
        .groupBy("lang")
        .agg(
            F.sum("bins").cast("bigint").alias("n_seqs"),
            F.sum("tok").cast("bigint").alias("packed_tokens"),
        )
    )
    rep = outcomes.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_delta"),
        F.sum((F.col("outcome") == "leaked").cast("int"))
        .cast("bigint")
        .alias("n_leaked"),
        F.sum((F.col("outcome") == "dup").cast("int"))
        .cast("bigint")
        .alias("n_dup"),
        F.sum((F.col("outcome") == "ingested").cast("int"))
        .cast("bigint")
        .alias("n_ingested"),
    )
    return rep.join(pk, "lang", "left").select(
        "lang",
        "n_delta",
        "n_leaked",
        "n_dup",
        "n_ingested",
        F.coalesce("n_seqs", F.lit(0)).cast("bigint").alias("n_seqs"),
        F.coalesce("packed_tokens", F.lit(0))
        .cast("bigint")
        .alias("packed_tokens"),
    )


def test_stream_corpus_ingest_converges_to_batch(spark, sf_dir, tmp_path):
    """Streaming face of corpus_ingest_incremental (the r8 queue's
    crawl-ingest shape): the delta documents arrive as a STREAM across
    two micro-batches; shingles/token counts are computed in-flight
    (deterministic expressions), each micro-batch is screened inside
    foreachBatch against the PERSISTED corpus posting + shingle tables
    (decontaminate-probe vs the eval split, then near-dup probe vs
    corpus train — at production the bucketed table
    dedup_minhash_persist maintains), and per-doc outcomes append to a
    staged table. After the drain the staged survivors flow through the
    same greedy sharded pack, and the final per-language report must
    equal the batch key exactly — screen-on-arrival, pack-on-snapshot,
    proven under readStream."""
    from etl_cnpjs_spark.functions.text import shingles, tokens
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT

    batch_expected = {
        tuple(r)
        for r in QUERIES["corpus_ingest_incremental"].fn(spark, sf_dir).collect()
    }
    static_posts, static_sh = _ingest_static_side(spark, sf_dir, tmp_path)

    # stream side: the delta docs as two time-ordered files -> two
    # micro-batches under maxFilesPerTrigger=1
    import os as _o
    import shutil

    delta = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _INCR_SPLIT)
        .select("doc_id", "lang", "text")
    )
    mid = delta.approxQuantile("doc_id", [0.5], 0.0)[0]
    feed = str(tmp_path / "ingest_feed")
    _o.makedirs(feed)
    for part, flt in (
        ("a_batch1", F.col("doc_id") <= mid),
        ("b_batch2", F.col("doc_id") > mid),
    ):
        pdir = str(tmp_path / part)
        delta.filter(flt).coalesce(1).write.parquet(pdir)
        pq = next(f for f in _o.listdir(pdir) if f.endswith(".parquet"))
        shutil.copy(f"{pdir}/{pq}", f"{feed}/{part}.parquet")

    staged = str(tmp_path / "outcomes")
    screen = _ingest_screen_fn(
        static_posts,
        static_sh,
        lambda out, _bid: out.write.mode("append").parquet(staged),
    )

    src = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream = src.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        shingles(tokens(F.col("text"))).alias("shb"),
    )
    q = (
        stream.writeStream.foreachBatch(screen)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "ingest stream did not drain in 180s"

    got = {
        tuple(r)
        for r in _ingest_report(spark, spark.read.parquet(staged)).collect()
    }
    assert got == batch_expected


def test_stream_corpus_ingest_restart_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed RESTART of the crawl-ingest stream: screen the first
    delta file to completion through a checkpointed foreachBatch, STOP,
    extend the feed with the second file, restart the SAME checkpoint.
    Structured Streaming's foreachBatch contract is at-least-once — a
    batch committed to the sink but not yet to the checkpoint REPLAYS
    with the same batch_id on restart — so outcomes stage into a
    per-batch_id subdirectory written with overwrite (the documented
    idempotent-sink pattern). After the restarted drain the staged table
    must hold EXACTLY one outcome per delta doc (no replays, no gaps)
    and the report must still equal the batch key — exactly-once
    end-to-end across a restart."""
    from etl_cnpjs_spark.functions.text import shingles, tokens
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT

    batch_expected = {
        tuple(r)
        for r in QUERIES["corpus_ingest_incremental"].fn(spark, sf_dir).collect()
    }
    static_posts, static_sh = _ingest_static_side(spark, sf_dir, tmp_path)

    import os as _o
    import shutil

    delta = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _INCR_SPLIT)
        .select("doc_id", "lang", "text")
    )
    n_delta_docs = delta.filter(F.length(F.trim("text")) > 0).count()
    mid = delta.approxQuantile("doc_id", [0.5], 0.0)[0]
    feed = str(tmp_path / "ingest_feed")
    _o.makedirs(feed)
    parts = {}
    for part, flt in (
        ("a_batch1", F.col("doc_id") <= mid),
        ("b_batch2", F.col("doc_id") > mid),
    ):
        pdir = str(tmp_path / part)
        delta.filter(flt).coalesce(1).write.parquet(pdir)
        pq = next(f for f in _o.listdir(pdir) if f.endswith(".parquet"))
        parts[part] = f"{pdir}/{pq}"

    staged = str(tmp_path / "outcomes")
    ckpt = str(tmp_path / "ingest_ckpt")
    screen = _ingest_screen_fn(
        static_posts,
        static_sh,
        # idempotent sink: a replayed batch_id overwrites its own
        # directory instead of double-appending
        lambda out, bid: out.write.mode("overwrite").parquet(
            f"{staged}/batch_id={bid}"
        ),
    )

    def run():
        src = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        stream = src.filter(F.length(F.trim("text")) > 0).select(
            "doc_id",
            "lang",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            shingles(tokens(F.col("text"))).alias("shb"),
        )
        q = (
            stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "ingest stream did not drain in 180s"

    # leg 1: only the first file exists; drain and stop
    shutil.copy(parts["a_batch1"], f"{feed}/a_batch1.parquet")
    run()
    # leg 2: the second file lands; restart from the SAME checkpoint
    shutil.copy(parts["b_batch2"], f"{feed}/b_batch2.parquet")
    run()

    outcomes = spark.read.option("basePath", staged).parquet(staged).select(
        "doc_id", "lang", "n_tokens", "outcome"
    )
    # exactly-once: one outcome row per non-empty delta doc
    assert outcomes.count() == n_delta_docs
    assert outcomes.select("doc_id").distinct().count() == n_delta_docs
    got = {tuple(r) for r in _ingest_report(spark, outcomes).collect()}
    assert got == batch_expected
