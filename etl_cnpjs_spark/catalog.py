"""Table catalog over parquet directories.

The reference's catalog is one SQLite file with two loaded tables and five
assumed-preexisting dimension tables (readme.md:149-159). Here a "database"
is a directory of parquet tables; each table registers as a temp view so
both the DataFrame API and ``spark.sql`` reach it. Parquet (columnar,
min/max pruned, predicate-pushdown-able) replaces the row-oriented B-tree —
an upgrade the reference's semantics never contradict (SURVEY.md §1.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cnpjs_spark.staging import staged

# Driver-provided synthetic star schema (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region and
# nation are bounded by the real world: 5 regions / 25 nations). customer /
# orders / part grow with the fact table — those joins must stay shuffle-able
# and are left to AQE to promote when small.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# --- adaptive scan parallelization (r13, guide §2.5/§6) ----------------------
#
# Parquet scans split at ROW-GROUP granularity: a file written as one row
# group is one scan task no matter how many byte-range splits Spark packs,
# and every fixture table here ships as a single-row-group file (checked
# via footer metadata below). That serializes ALL scan-side work — parquet
# decode, tokenization, shingling, per-row hashing, decimal casts — onto
# one core, and a localCheckpoint of such a frame freezes the 1-partition
# layout into every consumer. The guide's fix for an unsplittable input is
# one round-robin repartition immediately after the read (§2.5 "input
# skew"), so scan-side compute runs at session parallelism.
#
# The repartition is (a) OPT-IN PER CALL SITE and (b) GATED ON THE
# INPUT'S OWN LAYOUT, not a local constant:
#
# (a) Only scans whose downstream per-row work is heavy (tokenization,
#     shingling, per-row digests, wide decimal aggregation, codec work)
#     ask for it via ``table(..., parallel=True)``. A fleet-wide A/B at
#     sf0.1 measured the blanket form: the ~50 scan-compute-bound keys
#     won 30 s total (e.g. dedup_minhash_estimate 3.96→0.88 s, tpch_q1
#     2.33→1.10 s), but ~250 shuffle-light keys each paid +0.2-0.5 s for
#     the extra exchange + stage (+73 s total) — so the default stays
#     off and the win is taken only where the compute justifies it.
# (b) It fires only when the table's splittable units (row groups summed
#     across files) cannot feed the session's default parallelism AND the
#     table is big enough for a shuffle to pay for itself (fixed floor
#     SCAN_PARALLELIZE_MIN_BYTES, 512 KiB). At cluster scale, real tables
#     have many files × many row groups, the gate is false, and plans are
#     byte-identical to the ungated form — input-derived partitioning,
#     not a local[32] tune.
#
# Results are partition-independent by the registry's determinism rules
# (decimal accumulation, order-insensitive hashes), which twelve rounds
# of cross-core-count driver runs already exercise; every opted-in key is
# additionally re-proven against its DuckDB oracle this round.

@staged("scan_units")
def _scan_units(spark: SparkSession, path: str) -> tuple[int, int]:
    """(splittable row groups, total bytes) for a parquet file or dir of
    files — one footer read per path per session."""
    try:
        import pyarrow.parquet as pq

        files = (
            [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            if os.path.isdir(path)
            else [path]
        )
        groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        nbytes = sum(os.path.getsize(f) for f in files)
    except Exception:  # unreadable/foreign layout: never block the read
        groups, nbytes = 1 << 30, 0  # gate stays closed
    return (groups, nbytes)


SCAN_PARALLELIZE_MIN_BYTES = 512 * 1024


def maybe_parallelize_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition to session parallelism iff the parquet
    layout cannot (row groups < parallelism) and the bytes floor passes."""
    n = spark.sparkContext.defaultParallelism
    groups, nbytes = _scan_units(spark, path)
    if groups < n and nbytes >= SCAN_PARALLELIZE_MIN_BYTES:
        return df.repartition(n)
    return df


# --- session-scoped schema memo (r14, guide §6 / VERDICT r13 #1) ------------
#
# Re-running parquet footer SCHEMA INFERENCE (plus the dtypes round trip
# that decides the timestamp normalization) on every table() call cost
# ~0.09 s per call, about a third of a tail key's wall time at sf0.1. A
# production engine declares its table schemas ONCE per session in a
# catalog, so this stager keeps the inferred schema and normalization
# plan per (application, path). Every call still runs a fresh
# spark.read.schema(cached).parquet(path) — ~0.02 s — so each call gets a
# fresh relation with fresh expression ids: a memoized DataFrame handle
# was tried first and broke Spark's ambiguous-self-join check on
# tpch_q2/q11, where two branches join the same base table. Nothing is
# materialized; every execution re-lists and re-scans the input. The
# stager's path fingerprint makes a fixture rewritten in place — with
# another schema or timestamp encoding — re-infer on its next read.


@staged("table_meta")
def _table_meta(spark: SparkSession, path: str) -> tuple[object, tuple[tuple[str, str], ...]]:
    """(inferred schema, timestamp fixes) of one parquet table."""
    df = spark.read.parquet(path)
    fixes = []
    dtypes = df.dtypes
    if os.path.basename(path) == "events.parquet" and dict(dtypes).get("ts") == "bigint":
        fixes.append(("ts", "nanos_as_long"))
    for col, dtype in dtypes:
        if dtype == "timestamp_ntz":
            fixes.append((col, "ntz_cast"))
    return df.schema, tuple(fixes)


def table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Read one catalog table. Schema comes from the parquet footer —
    declared at write time, never re-inferred (SURVEY.md §1.2).

    Timestamp normalization (the driver regenerates the testdata between
    rounds and has shipped two physical encodings so far):

    - INT64 TIMESTAMP(NANOS) (round-1 ``events.ts``): Spark's reader
      rejects it ([PARQUET_TYPE_ILLEGAL]); read nanos as long (runtime
      conf) and floor-divide to microseconds — the same truncation DuckDB
      applies when it narrows ns → µs.
    - naive µs (``isAdjustedToUTC=false``, round-2 ``events.ts`` /
      ``l_shipdate`` / ``o_orderdate``): Spark reads TIMESTAMP_NTZ, which
      fails analysis against TIMESTAMP literals/functions used throughout
      the plans. Cast to session-tz TIMESTAMP; this environment (and the
      driver) run with tz=UTC so the wall-clock values are preserved
      bit-exactly and match DuckDB's naive reading.

    Every plan goes through this loader, so the normalization happens in
    exactly one place and the rest of the engine sees one timestamp type.
    """
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, fixes = _table_meta(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for col, kind in fixes:
        if kind == "nanos_as_long":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        else:
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if parallel:
        df = maybe_parallelize_scan(spark, df, path)
    return df
