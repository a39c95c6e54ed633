"""Custom stateful streaming operator via applyInPandasWithState.

Running per-user aggregates that survive across micro-batches — the
engine's arbitrary-state surface (the analog of Flink's KeyedProcessFunction),
for logic windowed aggregations can't express (counters, sessions with
custom expiry, online sketches).

State discipline for 100 TB streams: state is per-key and bounded (two
numbers per user here); the store shuffles by the group key once, and
timeouts (GroupStateTimeout) are the eviction mechanism for abandoned
keys — set NoTimeout only when the key domain is bounded, as here.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_cnpjs_spark.serde import pickle_by_value

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming DataFrame → per-user running (count, sum) in update mode.
    Arrow-batched: each micro-batch group arrives as pandas chunks."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


pickle_by_value(__name__)


# --- streaming SCD2 build (the lakehouse CDC story's streaming face) -------
#
# The batch twin is plans/events.py::cdc_scd2 (lag-suppress + lead
# intervals over the whole feed). Here the SAME interval table builds
# incrementally from an UNBOUNDED change stream: per-key state carries the
# one open interval (status + valid_from); each arriving change either
# restates it (suppressed — SCD2's no-change rule) or closes it, emitting
# the finished [valid_from, valid_to) row downstream in append mode. The
# open interval stays in state — it is not yet a fact. Contract with the
# batch form: once the stream drains, the emitted rows are EXACTLY the
# batch build's closed intervals (tests/test_streaming.py pins it).
#
# Precondition (the one every streaming SCD2 has): the feed arrives in
# per-key eff_ts order ACROSS micro-batches — the ordering a CDC log
# (binlog/WAL position) provides. Within a batch, arrival order is
# irrelevant (the handler sorts its chunk); cross-batch reordering would
# need a watermark-delayed buffer in front, which trades latency for
# disorder-tolerance and is deliberately not modeled here.
#
# State is 2 scalars/key (status string + epoch-µs long) — bounded, the
# 100 TB discipline running_user_totals documents; eviction would be a
# ProcessingTimeTimeout for keys whose entity is known-retired.

SCD2_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("status", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
    ]
)

SCD2_STATE_SCHEMA = StructType(
    [StructField("open_status", StringType()), StructField("open_from_us", LongType())]
)


def _update_scd2(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    open_status, open_from = state.get if state.exists else (None, None)
    closed: list[tuple[int, str, int, int]] = []
    chunk = pd.concat(list(pdfs))
    chunk = chunk.sort_values("eff_ts_us")
    for ts, status in zip(chunk["eff_ts_us"], chunk["status"]):
        ts = int(ts)
        if open_status is None:
            open_status, open_from = status, ts
        elif status != open_status:
            closed.append((key[0], open_status, open_from, ts))
            open_status, open_from = status, ts
        # else: restatement of the open value — suppressed (no new interval)
    state.update((open_status, open_from))
    yield pd.DataFrame(
        closed, columns=["key", "status", "valid_from_us", "valid_to_us"]
    )


def scd2_closed_intervals(feed: DataFrame) -> DataFrame:
    """Streaming (or batch) change feed (key, eff_ts_us, status) →
    closed SCD2 intervals in µs epoch, append mode; the open interval
    per key lives in state until a later change closes it."""
    return feed.groupBy("key").applyInPandasWithState(
        _update_scd2,
        outputStructType=SCD2_OUTPUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming last-touch attribution (events_attribution's stream face) ---
#
# The batch twin is plans/events.py::events_attribution (running
# (unbounded, -1) window frame). Here the SAME semantics run over an
# unbounded event stream: per-user state carries the latest touch
# (click/view type + its event-time µs); each purchase emits one
# attribution row in append mode, credited to the state's touch when it
# is within the 72 h lookback, else 'none'. Contract: once the stream
# drains (per-user event-time order across micro-batches — the same
# CDC-log precondition scd2_closed_intervals documents; within a batch
# the handler sorts), the emitted rows aggregate to EXACTLY the batch
# key's channel rollup (tests/test_streaming.py pins it).
#
# State is 2 scalars/key — bounded; production eviction would be an
# EventTimeTimeout at the lookback horizon (after 72 h without a touch
# the state can only ever attribute 'none', so it may be dropped).

ATTR_LOOKBACK_H = 72

ATTR_LOOKBACK_US = ATTR_LOOKBACK_H * 3600 * 1_000_000

ATTR_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("attributed", StringType()),
        StructField("value", DoubleType()),
    ]
)

ATTR_STATE_SCHEMA = StructType(
    [StructField("touch_type", StringType()), StructField("touch_ts_us", LongType())]
)


def _update_attribution(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    touch_type, touch_ts = state.get if state.exists else (None, None)
    out: list[tuple[int, int, int, str, float]] = []
    chunk = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    for eid, ts, etype, value in zip(
        chunk["event_id"], chunk["ts_us"], chunk["event_type"], chunk["value"]
    ):
        ts = int(ts)
        if etype in ("click", "view"):
            touch_type, touch_ts = etype, ts
        elif etype == "purchase":
            if touch_ts is None or touch_ts < ts - ATTR_LOOKBACK_US:
                attributed = "none"
            else:
                attributed = touch_type
            # Batch-twin parity: the batch rollup is a null-skipping SUM,
            # so a NULL purchase value contributes 0 — never NaN (which
            # would poison every downstream float aggregate).
            out.append(
                (key[0], int(eid), ts, attributed, 0.0 if pd.isna(value) else float(value))
            )
    state.update((touch_type, touch_ts))
    yield pd.DataFrame(
        out, columns=["user_id", "event_id", "ts_us", "attributed", "value"]
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Streaming (or batch) event feed (user_id, event_id, ts_us,
    event_type, value) -> one append-mode attribution row per purchase,
    credited to the user's latest in-lookback click/view."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- incremental CEP automaton (events_pattern_match's streaming face) ------
#
# The batch plan (plans/events.py::events_pattern_match) materializes
# each user's full event string and runs one regex — fine for bounded
# history, impossible for an unbounded stream. This face runs the SAME
# pattern s[^e]*c[^e]*p as an explicit NFA collapsed to maximal
# progress, carried as 3 scalars of per-user state:
#
#   progress ∈ {0,1,2}: best in-flight prefix (0 none, 1 "s…", 2 "s…c…")
#   matched: absorbing accept flag
#   seq_len: events consumed (the batch column, for equivalence checks)
#
# Transition (maximal-progress collapse — a path at progress 2 dominates
# one at 1 because any e-free suffix completing the lower state also
# completes the higher):
#   s → progress = max(progress, 1)
#   c → if progress ≥ 1: progress = max(progress, 2)
#   p → if progress ≥ 2: matched = true
#   e → progress = 0   (kills every in-flight gap; matched survives)
#
# Precondition, same as the SCD2 face: per-user ts order ACROSS
# micro-batches (a log replay); within a batch the handler sorts.

CEP_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("seq_len", LongType()),
        StructField("converted_clean", StringType()),  # 'true'/'false' —
        # kept string so the memory-sink compare is trivially portable
    ]
)

CEP_STATE_SCHEMA = StructType(
    [
        StructField("progress", LongType()),
        StructField("matched", LongType()),
        StructField("seq_len", LongType()),
    ]
)

_CEP_CHAR = {"signup": "s", "click": "c", "purchase": "p", "error": "e"}


def _update_cep(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    progress, matched, seq_len = state.get if state.exists else (0, 0, 0)
    chunk = pd.concat(list(pdfs))
    chunk = chunk.sort_values(["ts", "event_id"])
    for et in chunk["event_type"]:
        ch = _CEP_CHAR.get(et, "v")
        seq_len += 1
        if ch == "s":
            progress = max(progress, 1)
        elif ch == "c" and progress >= 1:
            progress = 2
        elif ch == "p" and progress >= 2:
            matched = 1
        elif ch == "e":
            progress = 0
    state.update((int(progress), int(matched), int(seq_len)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "seq_len": [int(seq_len)],
            "converted_clean": ["true" if matched else "false"],
        }
    )


def cep_clean_conversion(events: DataFrame) -> DataFrame:
    """Streaming DataFrame → per-user CEP verdict in update mode. State
    is 3 ints per user — bounded whatever the history length, the
    property that makes CEP runnable on an unbounded stream where the
    batch string-materialization is not."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_cep,
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming LOCF (the events_locf batch key's stateful face) -------------
#
# Forward-fill over an unbounded stream: per-user state carries ONE
# value — the last non-null micro reading — and every arriving event
# emits its filled value in append mode. This is the online-feature
# imputation events_locf documents as its streaming seam: causal by
# construction (only past readings fill), O(1) state per key.
#
# Precondition (shared with the SCD2 face): per-key (s, event_id)
# order holds ACROSS micro-batches — the order a partitioned log
# provides. Within a batch the handler sorts its chunk.

LOCF_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("filled_micro", LongType()),
        StructField("was_missing", LongType()),
    ]
)

# held = -2**63 sentinel is avoided: state is (has_value, last_micro)
LOCF_STATE_SCHEMA = StructType(
    [StructField("has", LongType()), StructField("last", LongType())]
)


def _update_locf(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    has, last = state.get if state.exists else (0, 0)
    chunk = pd.concat(list(pdfs)).sort_values(["s", "event_id"])
    out = []
    for eid, x in zip(chunk["event_id"], chunk["x_micro"]):
        missing = pd.isna(x)
        if not missing:
            has, last = 1, int(x)
        out.append(
            (
                key[0],
                int(eid),
                int(last) if has else None,
                1 if missing else 0,
            )
        )
    state.update((has, last))
    yield pd.DataFrame(
        out, columns=["user_id", "event_id", "filled_micro", "was_missing"]
    )


def locf_fill(events: DataFrame) -> DataFrame:
    """Streaming DataFrame(user_id, event_id, s, x_micro nullable) →
    append-mode forward-filled rows. State = (has, last): 2 longs per
    user, bounded; eviction for retired users would be a
    ProcessingTimeTimeout (same note as running_user_totals)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_locf,
        outputStructType=LOCF_OUTPUT_SCHEMA,
        stateStructType=LOCF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


pickle_by_value(__name__)
