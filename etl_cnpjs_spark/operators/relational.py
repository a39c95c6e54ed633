"""Relational operator library.

Covers the IN-list filters of the reference's relational core (QUERY_FINAL,
ETLCNPJFinalEmpresaEstabelecimentos.py:191-234; its 5-table star join is
one SQL statement, plans/relational.py::flagship) plus the standard
operator families the reference delegates to SQLite (joins, filters,
projection) and the ones it lacks entirely (aggregation, windows, set ops;
SURVEY.md §2.2).

Scale posture (100 TB):
- IN-list filters are plain ``isin`` so Catalyst pushes them into the
  parquet scan (PushedFilters) — the reference runs them as bytecode
  residuals after the index seek.
- Dedup-keep-latest is a window rank, the shuffle-once formulation: one
  hash partition by key, no self-join.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filter_in_lists(df: DataFrame, in_lists: dict[str, Iterable]) -> DataFrame:
    """Conjunctive IN-list predicates (etl.py:223-233).

    Duplicate literals are fine — IN has set semantics (the reference's
    CNAE list holds 53 literals, 50 distinct; SURVEY.md §2.1 O15).
    isin() compiles to an In predicate that Catalyst pushes to the scan.
    """
    cond = None
    for col_name, values in in_lists.items():
        c = F.col(col_name).isin(list(values))
        cond = c if cond is None else (cond & c)
    return df.filter(cond) if cond is not None else df


def dedup_exact(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup. Full-row: DISTINCT (hash aggregate on all columns —
    map-side partial, one shuffle). Keyed: use dedup_keep_latest for a
    deterministic survivor."""
    if keys is None:
        return df.distinct()
    return df.dropDuplicates(list(keys))


def dedup_keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keyed dedup with a deterministic survivor: row_number over
    (partitionBy keys, orderBy order_by) == 1. ``order_by`` must be a total
    order within key (include a unique tiebreaker) or the survivor is
    nondeterministic. One shuffle on ``keys``; no join."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def join_asof(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    payload: Sequence[str],
) -> DataFrame:
    """As-of join: each left row picks the latest right row with
    right_time <= left_time for the same key (inner semantics — unmatched
    left rows drop).

    Scalable union-merge formulation: tag both sides, union, ONE shuffle on
    the key, one sort by (time, side), then carry the most recent payload
    forward with last(ignorenulls) over an unbounded-preceding window.
    Never builds the naive (left × right-history) join, so cost is
    O((|L|+|R|) log) per key regardless of history depth — this is the
    standard streaming/temporal formulation (cf. KDB asof / Flink temporal
    join), expressed in pure DataFrame ops.

    ``right`` must be unique per (key, right_time) — pre-dedup with
    dedup_keep_latest for deterministic payloads.
    """
    lcols = left.columns
    # side=0 sorts right rows first at equal timestamps: a left row at
    # exactly right_time matches it (>= semantics)
    r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_time).cast("timestamp").alias("__t"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__p_{c}") for c in payload],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_time).cast("timestamp").alias("__t"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in payload],
        *lcols,
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l).select(
        "*", *[F.last(f"__p_{c}", ignorenulls=True).over(w).alias(f"__c_{c}") for c in payload]
    )
    out = carried.filter((F.col("__side") == 1) & F.col(f"__c_{payload[0]}").isNotNull())
    return out.select(*lcols, *[F.col(f"__c_{c}").alias(f"matched_{c}") for c in payload])


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. orderBy(...).limit(k) compiles to TakeOrderedAndProject:
    per-partition heaps + a k-row merge on the driver — no global sort, no
    full shuffle. ``order_by`` should be a total order for determinism."""
    return df.orderBy(*order_by).limit(k)


def sessionize_sql(
    source: str, user_col: str, ts_col: str, order_col: str, gap_us: int
) -> str:
    """Gap-based sessionization as one SQL statement over the relation
    ``source``: a new session starts when the gap since the user's
    previous event exceeds ``gap_us`` microseconds. lag → flag →
    running-sum assigns session ids in one window pass over (user, ts,
    order_col) — order_col breaks ts ties so the assignment is a total
    order. One row per (user, session_seq) with count, bounds, and
    duration. One exchange end-to-end: the final GROUP BY reuses the
    window's hash(user) partitioning (plan-asserted in
    tests/test_plans.py)."""
    # the running sum MUST use the same total order as the lag window —
    # on (ts) alone, tied timestamps at a session boundary could order the
    # is_new=1 row after its tied partner and split the tie across sessions
    return f"""
        WITH flagged AS (
          SELECT `{user_col}` AS user_id, `{ts_col}` AS ts, `{order_col}` AS __ord,
                 CASE WHEN unix_micros(lag(`{ts_col}`) OVER w) IS NULL
                        OR unix_micros(`{ts_col}`) - unix_micros(lag(`{ts_col}`) OVER w)
                           > {gap_us}
                      THEN 1 ELSE 0 END AS is_new
          FROM {source}
          WINDOW w AS (PARTITION BY `{user_col}` ORDER BY `{ts_col}`, `{order_col}`)),
        sess AS (
          SELECT user_id, ts, sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, __ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged)
        SELECT user_id, session_seq,
               count(1) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               unix_micros(max(ts)) - unix_micros(min(ts)) AS duration_us
        FROM sess GROUP BY user_id, session_seq
        """


def sessionize(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    gap_us: int,
) -> DataFrame:
    """``sessionize_sql`` over a DataFrame, analyzed as one statement."""
    return events.sparkSession.sql(
        sessionize_sql("{ev}", user_col, ts_col, order_col, gap_us), ev=events
    )


def scd2_intervals(
    feed: DataFrame, key: str, ts: str, attr: str
) -> DataFrame:
    """Type-2 SCD interval build over a change feed: suppress consecutive
    no-change records (a restated value must not open a new interval),
    then close each interval with the next effective time. Returns
    (key, attr, valid_from, valid_to, is_current) — valid_to NULL on the
    open/current interval. Both windows share one (key) partitioning and
    one (ts) sort: a single feed-sized exchange, never a self-join.
    (ts must be unique per key — the caller's feed grain.)"""
    w = Window.partitionBy(key).orderBy(ts)
    kept = (
        feed.withColumn("__prev", F.lag(attr).over(w))
        .filter(F.col("__prev").isNull() | (F.col(attr) != F.col("__prev")))
        .select(key, ts, attr)
    )
    return kept.select(
        key,
        attr,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        F.lead(ts).over(w).isNull().alias("is_current"),
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bin_width: int,
) -> DataFrame:
    """Overlap join of two half-open integer-interval frames — rows where
    [a_start, a_end) ∩ [b_start, b_end) ≠ ∅ — with NO equi key, the shape
    a naive plan turns into a nested-loop cross product. Scalable form
    (the range-join bin-blocking technique): each interval explodes to
    every ``bin_width``-wide bin it covers, the join becomes a bin
    equi-join with the true overlap predicate as residual, and a full-row
    distinct collapses double-matches from pairs sharing several bins.
    Overlapping intervals always share the bin of any common day, so
    recall is exact for ANY interval length — longer intervals just
    explode to more bins (cost: ceil(len/bin_width) replicas per row;
    pick bin_width near the typical interval length). Work is
    Σ per-bin |A_bin|·|B_bin| — linear for bounded interval length and
    bounded per-bin density, never |A|×|B|.

    Requires non-empty intervals (end > start) — ENFORCED: empty or
    inverted intervals are filtered out before binning, because
    sequence(start DIV w, (end-1) DIV w) on an empty interval silently
    produces a DESCENDING bin list and the residual predicate then emits
    pairs for zero-length intervals that are mathematically
    non-overlapping; misuse now fails closed (the row simply matches
    nothing, exactly as an empty set should). Also requires distinct
    rows per side (the double-match collapse is a full-row distinct). Column names must
    not collide across the two sides. Bit-exact in integer arithmetic —
    oracle-checkable against the naive join (join_interval_overlap plan;
    property-tested against brute force in tests/test_properties.py)."""
    def binned(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.filter(F.col(end) > F.col(start)).withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.expr(f"{start} DIV {bin_width}"),
                    F.expr(f"({end} - 1) DIV {bin_width}"),
                )
            ),
        )

    return (
        binned(a, a_start, a_end)
        .join(binned(b, b_start, b_end), ["__bin"])
        .filter(
            (F.col(a_start) < F.col(b_end)) & (F.col(b_start) < F.col(a_end))
        )
        .drop("__bin")
        .distinct()
    )


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point: str,
    start: str,
    end: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-range lookup — rows where start <= point < end — the
    degenerate (and far more common) case of interval_overlap_join: AS-OF
    reads, event→session attribution, IP→geo range lookups, tiered
    pricing. Same bin-blocking idea, but the POINT side never explodes:
    a point lies in exactly ONE ``bin_width`` bin (point DIV width — one
    integer projection, no sequence(), no row growth), only the interval
    side replicates to the bins it covers. The join is then a plain bin
    equi-join with the containment predicate as residual, and because
    each (interval, point) pair can meet in at most one bin — the
    point's — there are no double-matches and NO distinct is needed:
    output cardinality is exactly the true match set, duplicates in the
    inputs pass through 1:1 (unlike the overlap join, which must
    collapse on distinct rows).

    Cost: |points| + Σ ceil(len/width) interval replicas shuffled on the
    bin key, then per-bin hash probes — never |P|×|I|. Empty/inverted
    intervals are filtered (fail closed, same contract as
    interval_overlap_join). Integer arithmetic only: bit-exact against
    the naive BETWEEN join, which is the oracle."""
    iv = intervals.filter(F.col(end) > F.col(start)).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.expr(f"{start} DIV {bin_width}"),
                F.expr(f"({end} - 1) DIV {bin_width}"),
            )
        ),
    )
    pt = points.withColumn("__bin", F.expr(f"{point} DIV {bin_width}"))
    return (
        pt.join(iv, ["__bin"])
        .filter((F.col(start) <= F.col(point)) & (F.col(point) < F.col(end)))
        .drop("__bin")
    )
