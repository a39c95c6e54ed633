"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests start a local[4] session; the end-to-end tests run the
benchmark command as a subprocess (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

COLUMNS = ["cnpj_basico", "nome_fantasia", "capital_social"]
ROWS = [("1", "ALFA OBRAS", "10,00"), ("2", "", "0,00"), ("3", "SÃO JOÃO", "7,50")]


def _bom_csv(path, rows, bom=gate.BOM) -> str:
    text = ";".join(COLUMNS) + "\n" + "".join(";".join(r) + "\n" for r in rows)
    with open(path, "wb") as f:
        f.write(bom + text.encode("utf-8"))
    return str(path)


def test_gate_accepts_the_oracles_rows(tmp_path):
    expect = gate.rows_digest(ROWS)
    assert gate.check_bom_csv(_bom_csv(tmp_path / "ok.csv", list(reversed(ROWS))), COLUMNS, expect) == 3


@pytest.mark.parametrize(
    "name, rows, bom",
    [
        ("stripped_bom", ROWS, b""),
        ("double_bom", ROWS, gate.BOM + gate.BOM),
        ("dropped_row", ROWS[:-1], gate.BOM),
        ("changed_value", [ROWS[0], ROWS[1], ("3", "SAO JOAO", "7,50")], gate.BOM),
        ("repeated_header", [*ROWS, tuple(COLUMNS)], gate.BOM),
    ],
)
def test_gate_rejects_a_broken_bom_csv(tmp_path, name, rows, bom):
    with pytest.raises(gate.GateError):
        gate.check_bom_csv(_bom_csv(tmp_path / f"{name}.csv", rows, bom), COLUMNS, gate.rows_digest(ROWS))


def test_input_cache_regenerates_a_missing_shard(tmp_path):
    root, paths, manifest = inputs.cnpj_drop(str(tmp_path), seed=5, sizes=(100, 250))
    assert not manifest["hit"]
    shard = paths["estabelecimentos"][0]
    with open(shard, "rb") as f:
        original = f.read()
    assert inputs.cnpj_drop(str(tmp_path), seed=5, sizes=(100, 250))[2]["hit"]
    os.remove(shard)
    _, _, again = inputs.cnpj_drop(str(tmp_path), seed=5, sizes=(100, 250))
    assert not again["hit"]
    with open(shard, "rb") as f:
        assert f.read() == original


def test_mix_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    a, _ = inputs.mix_tables(str(tmp_path / "a"), seed=3)
    b, _ = inputs.mix_tables(str(tmp_path / "b"), seed=3)
    c, _ = inputs.mix_tables(str(tmp_path / "c"), seed=4)
    for t in inputs.MIX_ROWS:
        ta, tb = pq.read_table(f"{a}/{t}.parquet"), pq.read_table(f"{b}/{t}.parquet")
        assert ta.equals(tb) and ta.num_rows == inputs.MIX_ROWS[t]
    assert not pq.read_table(f"{a}/lineitem.parquet").equals(pq.read_table(f"{c}/lineitem.parquet"))


def test_mix_tables_keep_the_reference_shape(tmp_path):
    """The statistics the reference sf0.01 tables have, whatever the seed:
    31 words, no exact duplicate documents but some near duplicates, 150
    event users, 64-dimensional embeddings with no cluster structure."""
    from perfbench.compare_inputs import table_stats

    for seed in (1, 2):
        sf_dir, _ = inputs.mix_tables(str(tmp_path / str(seed)), seed=seed)
        s = table_stats(sf_dir)
        assert {t: s[t]["rows"] for t in inputs.MIX_ROWS} == inputs.MIX_ROWS
        docs = s["documents"]
        assert docs["vocabulary"] == 31 and docs["source.distinct"] == 20 and docs["lang.distinct"] == 5
        assert docs["exact_duplicates"] <= 2 and 10 <= docs["near_duplicate_pairs"] <= 40
        assert s["events"]["user_id.distinct"] == 150 and s["events"]["props.distinct"] == 100
        assert s["embeddings"]["embedding.len"] == 64 and s["embeddings"]["centroid_norm.mean"] < 0.2


@pytest.fixture(scope="module")
def spark():
    from etl_cnpjs_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_harvest_exact_counts_for_one_key(spark, tmp_path_factory):
    """agg_count_by at four cores: two jobs, each one completed single-task
    stage; the counts repeat exactly once the table's schema is memoized."""
    from perfbench.spans import Tracer, totals

    from etl_cnpjs_spark.plans import QUERIES

    sf_dir, _ = inputs.mix_tables(str(tmp_path_factory.mktemp("mix")), seed=1)
    tracer = Tracer(enabled=True)
    tracer.attach(spark)
    counts = []
    for op in range(3):
        with tracer.span("plans.execute", op):
            QUERIES["agg_count_by"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = totals(tracer.spans, "plans.", {op})
        counts.append((t["jobs"], t["stages"], t["tasks"]))
    assert counts[1] == counts[2] == (2, 2, 2)
    assert totals(tracer.spans, "plans.", {2})["executor_run_s"] > 0


def _run_bench(cwd, *args, timeout=180):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, section):
    proc = _run_bench(ROOT, "--workload", "cnpj_e2e", "--seed", "7", "--seconds", "1", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = _run_bench(str(tmp_path), "--workload", "plan_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
