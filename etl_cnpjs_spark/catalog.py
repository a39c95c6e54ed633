"""Table catalog over parquet directories.

The reference's catalog is one SQLite file with two loaded tables and five
assumed-preexisting dimension tables (readme.md:149-159). Here a "database"
is a directory of parquet tables; each table registers as a temp view so
both the DataFrame API and ``spark.sql`` reach it. Parquet (columnar,
min/max pruned, predicate-pushdown-able) replaces the row-oriented B-tree —
an upgrade the reference's semantics never contradict (SURVEY.md §1.1).
"""

from __future__ import annotations

import hashlib
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


def scan_parallelism(spark: SparkSession, path: str) -> int:
    """Session parallelism iff the parquet layout cannot feed it (row
    groups < parallelism) and the bytes floor passes, else 0. A SQL
    statement applies it as a ``REPARTITION(n)`` hint on the scan."""
    n = spark.sparkContext.defaultParallelism
    groups, nbytes = _scan_units(spark, path)
    return n if groups < n and nbytes >= SCAN_PARALLELIZE_MIN_BYTES else 0


# --- session views: one read per catalog table per session ------------------
#
# The reference loads each table once into its catalog and then queries it
# by name. Here each catalog table is read once per (session, table path)
# by the ``view`` stager: it infers the schema from the parquet footer,
# normalizes the timestamps, and registers the result as a temp view
# ``__cat_<sha1(abs dir)[:10]>_<table>``. ``table()`` and ``views()`` both
# return that view, so plans written as DataFrame chains and plans written
# as one ``spark.sql`` statement read the same relation, and nothing
# re-reads a footer or re-applies a fix per call.
#
# - Names carry a digest of the absolute catalog directory, so two
#   catalog directories can live in one session.
# - A view keeps the file listing it was registered with. The stager's
#   fingerprint covers the table file, and each part file of a table
#   stored as a directory, so a table rewritten in place (even with
#   another schema or timestamp encoding) re-registers its view on the
#   next plan built. Nothing is materialized: every execution re-scans.
# - Every handle on one view carries the same expression ids. A self-join
#   must alias both sides and reference columns through the aliases:
#   ``a.alias("a").join(b.alias("b"), F.col("a.c") == F.col("b.c"))``, or
#   two SQL aliases of the view. A condition ``a["c"] == b["c"]`` between
#   two handles fails as ambiguous (the tpch_q2 / tpch_q11 trap).
#   ``toDF(*cols)`` gives fresh ids too, but costs a re-analysis per call.
#
# Timestamp normalization (the test data is regenerated between rounds and
# has shipped two physical encodings so far):
#
# - INT64 TIMESTAMP(NANOS) (round-1 ``events.ts``): Spark's reader rejects
#   it ([PARQUET_TYPE_ILLEGAL]); read nanos as long (runtime conf) and
#   floor-divide to microseconds — the same truncation DuckDB applies when
#   it narrows ns → µs.
# - naive µs (``isAdjustedToUTC=false``, round-2 ``events.ts`` /
#   ``l_shipdate`` / ``o_orderdate``): Spark reads TIMESTAMP_NTZ, which
#   fails analysis against TIMESTAMP literals/functions used throughout
#   the plans. Cast to session-tz TIMESTAMP; sessions run with tz=UTC, so
#   the wall-clock values are preserved bit-exactly and match DuckDB's
#   naive reading.


@staged("view")
def _view(spark: SparkSession, path: str) -> str:
    """Register the parquet table at ``path`` as a session temp view with
    its timestamps normalized; returns the view name."""
    sf_dir, fname = os.path.split(path)
    name = fname.removesuffix(".parquet")
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = df.dtypes
    fixes = {c: F.col(c).cast("timestamp") for c, t in dtypes if t == "timestamp_ntz"}
    if name == "events" and dict(dtypes).get("ts") == "bigint":
        fixes["ts"] = F.timestamp_micros(F.expr("ts div 1000"))
    if fixes:
        df = df.withColumns(fixes)
    view = f"__cat_{tag}_{name}"
    df.createOrReplaceTempView(view)
    return view


def table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """One catalog table: the session view over its parquet file, schema
    from the footer (SURVEY.md §1.2), timestamps normalized. Every plan
    reads through here or ``views``, so the normalization happens in
    exactly one place and the rest of the engine sees one timestamp type.
    ``parallel`` opts in to the scan repartition (``scan_parallelism``)."""
    path = table_path(sf_dir, name)
    df = spark.table(_view(spark, path))
    if parallel and (n := scan_parallelism(spark, path)):
        df = df.repartition(n)
    return df


@staged("views")
def views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """{table: temp view name} for each catalog table present in sf_dir;
    plans written as one ``spark.sql`` statement name their tables here."""
    return {
        name: _view(spark, table_path(sf_dir, name))
        for name in TESTDATA_TABLES
        if os.path.exists(table_path(sf_dir, name))
    }
