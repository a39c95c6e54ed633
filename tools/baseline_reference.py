"""Measured single-node baseline: the REFERENCE's own architecture
(chunked pandas → SQLite → secondary indexes → QUERY_FINAL →
utf-8-sig CSV export) run end-to-end on the SAME deterministic fixture
drop the engine's `cnpj_flagship` ingests, at the same volume — so
BASELINE.md's "no published number" gap gets an actual measured
wall-clock to compare BENCH against.

NOT copied code: a small harness that re-executes the reference's
pipeline steps through the same public pandas/sqlite3 APIs it uses —
chunked `read_csv(chunksize=25000, sep=';', dtype=str,
encoding='latin1')` → `to_sql(append)` (etl.py:167-173), NUMERIC/TEXT
column affinity matching its DDL (etl.py:113-163), the 4 secondary
indexes (etl.py:178-181), `pd.read_sql_query` + `to_csv(utf-8-sig)`
(etl.py:185-188). The query string is the repo's cited verbatim
constant (cnpj/flagship.py:32, etl.py:191-234). The header-rewrite
pre-pass (etl.py:84-110, one extra full CSV read+write) is OMITTED —
that UNDERSTATES the reference's true cost, so any engine-vs-baseline
ratio derived from this number is conservative in the reference's
favor.

The engine side is timed in the same process with the same boundary:
raw CSVs on disk → result CSV written (Spark raw load + affinity
views + QUERY_FINAL + distributed CSV write + single-file merge).

Usage: python tools/baseline_reference.py [sf_tag]   (default 0.1)
Prints one JSON line with both sides' phase timings (load, query, export;
plus index build on the reference side and session start and core count
on the engine side).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sqlite3
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHUNK_SIZE = 25_000  # etl.py:35


def baseline_sqlite(paths: dict, workdir: str) -> dict:
    import pandas as pd

    from etl_cnpjs_spark.cnpj.flagship import QUERY_FINAL
    from etl_cnpjs_spark.cnpj.schemas import AFFINITY_KEYS, TABLE_COLUMNS

    db = os.path.join(workdir, "cnpj.db")
    conn = sqlite3.connect(db)
    out: dict[str, float] = {}

    t0 = time.perf_counter()
    tables = ["estabelecimentos", "empresas", "cnae", "municipios",
              "motivo_situacao_cadastral"]
    cur = conn.cursor()
    for t in tables:
        keys = set(AFFINITY_KEYS.get(t, ()))
        cols = ", ".join(
            f"{c} {'NUMERIC' if c in keys else 'TEXT'}"
            for c in TABLE_COLUMNS[t]
        )
        cur.execute(f"DROP TABLE IF EXISTS {t}")
        cur.execute(f"CREATE TABLE {t} ({cols})")
    conn.commit()
    for t in tables:
        for p in paths[t]:
            for chunk in pd.read_csv(
                p, sep=";", header=None, names=TABLE_COLUMNS[t],
                dtype=str, chunksize=CHUNK_SIZE, encoding="latin1",
            ):
                chunk.to_sql(t, conn, if_exists="append", index=False)
    conn.commit()
    out["load_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    for ddl in (  # etl.py:178-181
        "CREATE INDEX IF NOT EXISTS idx_empresas_cnpj ON empresas(cnpj_basico)",
        "CREATE INDEX IF NOT EXISTS idx_estab_cnpj ON estabelecimentos(cnpj_basico)",
        "CREATE INDEX IF NOT EXISTS idx_estab_cnae ON estabelecimentos(id_cnae)",
        "CREATE INDEX IF NOT EXISTS idx_estab_uf ON estabelecimentos(uf)",
    ):
        cur.execute(ddl)
    conn.commit()
    out["index_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    df = pd.read_sql_query(QUERY_FINAL, conn)  # etl.py:186
    out["query_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    result = os.path.join(workdir, "resultado_final.csv")
    df.to_csv(result, sep=";", index=False, encoding="utf-8-sig")  # :187
    out["export_sec"] = round(time.perf_counter() - t0, 3)
    out["rows"] = int(len(df))
    out["total_sec"] = round(sum(v for k, v in out.items() if k.endswith("_sec")), 3)
    conn.close()
    return out


def engine_spark(src: str, paths: dict, workdir: str) -> dict:
    from etl_cnpjs_spark.cnpj.export import export_csv, merge_single_file
    from etl_cnpjs_spark.cnpj.flagship import (
        register_affinity_views,
        run_flagship,
    )
    from etl_cnpjs_spark.cnpj.ingest import discover
    from etl_cnpjs_spark.cnpj.load import load_raw_parquet, register_raw
    from etl_cnpjs_spark.cnpj.schemas import DIM_COLUMNS
    from etl_cnpjs_spark.session import get_spark

    # JVM/session startup is part of the engine's process boundary
    # (the SQLite side has no comparable excluded cost — ADVICE r7):
    # report it as its own phase AND inside total_sec so both sides
    # share the same 'raw CSVs on disk -> result CSV written' boundary.
    t0 = time.perf_counter()
    spark = get_spark(app_name="baseline-engine")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    out["startup_sec"] = round(time.perf_counter() - t0, 3)
    out["cores"] = spark.sparkContext.defaultParallelism

    t0 = time.perf_counter()
    routed = discover(os.path.join(src, "zips"))
    table_paths = load_raw_parquet(spark, routed, os.path.join(workdir, "raw"))
    dim_routed = {t: paths[t] for t in DIM_COLUMNS}
    table_paths.update(
        load_raw_parquet(spark, dim_routed, os.path.join(workdir, "raw"))
    )
    register_raw(spark, table_paths)
    register_affinity_views(spark)
    out["load_sec"] = round(time.perf_counter() - t0, 3)

    # Spark is lazy: query_sec is plan build + analysis; the query executes
    # inside the distributed CSV write, so export_sec carries its run time.
    t0 = time.perf_counter()
    df = run_flagship(spark)
    df.schema  # noqa: B018 - forces analysis
    out["query_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    parts = export_csv(df, os.path.join(workdir, "out_csv"))
    result = merge_single_file(parts, os.path.join(workdir, "resultado_final.csv"))
    out["export_sec"] = round(time.perf_counter() - t0, 3)
    # count records with csv.reader, not raw newlines: a quoted field
    # containing an embedded newline would diverge from the reference
    # side's len(df) and fail the rows-equal assert spuriously (ADVICE
    # r7 — latent with current fixtures, closed anyway)
    import csv

    with open(result, "r", encoding="utf-8-sig", newline="") as f:
        out["rows"] = sum(1 for _ in csv.reader(f, delimiter=";")) - 1
    out["total_sec"] = round(sum(v for k, v in out.items() if k.endswith("_sec")), 3)
    return out


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "0.1"
    from etl_cnpjs_spark.cnpj import fixtures
    from etl_cnpjs_spark.plans.cnpj_parity import _SIZES

    if "x" in tag:  # custom "N_empresas x N_estab", e.g. 1000000x2500000
        a, b = tag.split("x")
        sizes = (int(a), int(b))
    else:
        sizes = _SIZES[tag]
    src = tempfile.mkdtemp(prefix="baseline_fixtures_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    paths = fixtures.generate(src, seed=42, n_empresas=sizes[0], n_estab=sizes[1])

    ref_dir = tempfile.mkdtemp(prefix="baseline_ref_")
    eng_dir = tempfile.mkdtemp(prefix="baseline_eng_")
    atexit.register(shutil.rmtree, ref_dir, ignore_errors=True)
    atexit.register(shutil.rmtree, eng_dir, ignore_errors=True)
    ref = baseline_sqlite(paths, ref_dir)
    # free the reference side's disk (SQLite DB + indexes + its output
    # CSV — ~2x raw volume at the 20 GB decade) before the engine runs;
    # every number from that side is already in `ref`
    shutil.rmtree(ref_dir, ignore_errors=True)
    eng = engine_spark(src, paths, eng_dir)

    assert ref["rows"] == eng["rows"], (ref["rows"], eng["rows"])
    print(
        json.dumps(
            {
                "sf_tag": tag,
                "n_empresas": sizes[0],
                "n_estab": sizes[1],
                "reference_pandas_sqlite": ref,
                "engine_spark": eng,
                "speedup_total": round(ref["total_sec"] / eng["total_sec"], 2),
                "speedup_query_export": round(
                    (ref["query_sec"] + ref["export_sec"]) / (eng["query_sec"] + eng["export_sec"]), 2
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
