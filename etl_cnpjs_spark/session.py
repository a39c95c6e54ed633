"""SparkSession factory.

The reference is single-process/single-threaded (SQLite bytecode VM,
ETLCNPJFinalEmpresaEstabelecimentos.py:186); here every knob is chosen for
multi-executor scale and merely *tested* on local[N]:

- AQE on: runtime re-plan (broadcast promotion, skew-join splitting,
  partition coalescing) replaces the reference's hand-built secondary
  indexes (etl.py:176-182).
- shuffle.partitions sized to the local core count; on a real cluster this
  is overridden (or left to AQE coalescing) — the plans themselves never
  depend on a partition count.
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle runs timezone-naive).
- Arrow enabled: every Python-side exchange (pandas UDFs, toPandas) is
  columnar-batched, never row-at-a-time pickling.
- Codegen class cache sized to the plans' working set
  (`CODEGEN_CACHE_ENTRIES`): Spark keeps compiled whole-stage classes in
  one JVM-wide cache of 100 entries by default, and one long-lived
  session runs many plans. At 100, the 18 perfbench plan_mix keys
  recompile about 330 classes in every steady-state round, and a second
  full-registry pass at sf0.001 recompiles about 5,000; at 8192 they
  recompile 0-8 and about 120. Cost at registry scale (about 3,750
  cached classes; 4 cores, 16 g heap), live after full GC: +118 MB heap,
  +29 MB metaspace, +30 MB JIT code cache. The conf is static and
  JVM-wide: it takes effect only when `get_spark` builds the JVM's first
  session, and a vanilla session built elsewhere (as callers of
  `__spark_entry__` do) keeps Spark's 100. No plan depends on it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's JVM-wide codegen class cache
# (spark.sql.codegen.cache.maxEntries, default 100). One full-registry pass
# at sf0.001 compiles about 3,750 distinct classes; 8192 leaves about 2x
# headroom.
CODEGEN_CACHE_ENTRIES = 8192


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's codegen has compiled in this JVM so far (the count of
    its Janino compilation-time histogram)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(app_name: str = "etl-cnpjs-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Settings that matter at 100 TB and are safe at test scale:
    AQE + skew join handling, broadcast threshold left at default (10 MB)
    so dimension tables broadcast automatically, parquet filter pushdown on
    (default, asserted by tests via .explain).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.caseSensitive", "false")  # reference resolves
        # e.ID_MUNICIPIO against id_municipio (etl.py:224 vs :152)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()
