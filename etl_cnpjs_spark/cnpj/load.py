"""Raw load: latin-1 ';' headerless CSV shards → all-string parquet
(O4-O5, O9-O10 — ETLCNPJFinalEmpresaEstabelecimentos.py:84-94,113-173).

The reference stamps names on 25k-row pandas chunks and appends to SQLite
under PRAGMA foreign_keys=OFF. Here the whole stage is one declarative
read + one distributed write:

- schema declared positionally (schemas.raw_schema) on every read,
  including the read-back: register_raw reads the parquet this stage
  wrote with the schema it wrote it with, so no job infers it again;
- all shards of a table read as one multi-path scan (the reference's
  per-file append loop disappears — union is the scan);
- mode('overwrite') replaces DROP+CREATE+append (O9/O10), atomic via
  Spark's commit protocol (O7); re-runs are idempotent — a deliberate
  upgrade over the reference's duplicate-on-rerun append (SURVEY.md §3.2);
- orphan rows load freely: no enforced FKs anywhere (O11 semantics);
- estabelecimentos is additionally written partitioned by uf when asked —
  the scale path for partition pruning (replaces the uf index, etl.py:181).

Reader options pinned (SURVEY.md §7.3 #4): empty CSV field → NULL, matching
pandas dtype=str (NaN) → SQLite NULL in the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_cnpjs_spark.cnpj.schemas import TABLE_COLUMNS, raw_schema


def read_raw(spark: SparkSession, paths: list[str] | str, table: str) -> DataFrame:
    """O4+O5: declared all-string scan of one table's shard set."""
    return (
        spark.read.schema(raw_schema(table))
        .option("sep", ";")
        .option("encoding", "ISO-8859-1")  # etl.py:87
        .option("header", "false")
        .option("nullValue", "")  # empty field → NULL, like pandas dtype=str
        .option("mode", "PERMISSIVE")
        .csv(paths)
    )


class RawLoadError(RuntimeError):
    """One or more table loads failed. ``failed`` maps each failed table to
    its exception; ``written`` is the {table: path} of the loads that
    finished, whose outputs exist."""

    def __init__(self, failed: dict[str, BaseException], written: dict[str, str]):
        self.failed, self.written = failed, written
        detail = "; ".join(
            f"{t}: {type(e).__name__}: {(str(e).splitlines() or [''])[0]}"
            for t, e in failed.items()
        )
        super().__init__(f"raw load failed for {sorted(failed)} ({detail}); written: {written}")


def load_raw_parquet(spark: SparkSession, routed: dict[str, list[str]], out_dir: str, partition_estab_by_uf: bool = False) -> dict[str, str]:
    """Load every discovered table to raw parquet; returns {table: path}.

    Per-table loads are INDEPENDENT jobs (separate sources, separate
    destinations), so they run from a small driver thread pool (guide
    §2.6 "overlap independent jobs"): the big estabelecimentos
    read+write no longer serializes behind six small dimension loads —
    its tail tasks back-fill with the next table's scan. 3 in flight is
    the guide's "enough to fill the tail" sizing; results and
    idempotence are unchanged (each job touches only its own dest).
    Every load runs to its end; if any failed, RawLoadError names them and
    carries the {table: path} of the ones that were written."""
    from concurrent.futures import ThreadPoolExecutor

    todo = [
        (table, paths)
        for table, paths in routed.items()
        if paths and table in TABLE_COLUMNS
    ]

    def load_one(table: str, paths: list[str]) -> str:
        dest = os.path.join(out_dir, f"{table}.parquet")
        df = read_raw(spark, paths, table)
        writer = df.write.mode("overwrite")
        if table == "estabelecimentos" and partition_estab_by_uf:
            writer = writer.partitionBy("uf")
        writer.parquet(dest)
        return dest

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {table: pool.submit(load_one, table, paths) for table, paths in todo}
    failed = {t: f.exception() for t, f in futures.items() if f.exception() is not None}
    written = {t: f.result() for t, f in futures.items() if t not in failed}
    if failed:
        raise RawLoadError(failed, written) from next(iter(failed.values()))
    return written


def register_raw(spark: SparkSession, table_paths: dict[str, str]) -> None:
    """Register raw parquet tables as temp views (the catalog surface the
    flagship and typed layers build on). The read declares the schema
    read_raw wrote with, so it launches no schema-inference job; a
    uf-partitioned load still reads back with uf last, as inference would."""
    for table, path in table_paths.items():
        spark.read.schema(raw_schema(table)).parquet(path).createOrReplaceTempView(f"raw_{table}")
