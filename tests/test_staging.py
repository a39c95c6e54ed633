"""Session stagers (etl_cnpjs_spark/staging.py): memo hits, self-
invalidation on rewritten inputs, per-session view state, and the
cross-process disk stage's manifest check."""

from __future__ import annotations

import ast
import inspect
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_cnpjs_spark import staging
from etl_cnpjs_spark.catalog import table, views
from etl_cnpjs_spark.plans import QUERIES, cnpj_parity
from tests.compare import assert_frames_match
from tests.conftest import SMOKE_SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_cnpjs_spark")


def test_rewritten_table_invalidates_schema_memo(spark, tmp_path):
    """A fixture rewritten in place with another column type is re-read
    with its new schema, with no clear call in between."""
    sf = str(tmp_path)
    path = os.path.join(sf, "widgets.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64())}), path)
    assert table(spark, sf, "widgets").dtypes == [("k", "bigint")]

    pq.write_table(pa.table({"k": pa.array(["a", "b", "c"], pa.string())}), path)
    df = table(spark, sf, "widgets")
    assert df.dtypes == [("k", "string")]
    assert sorted(r.k for r in df.collect()) == ["a", "b", "c"]


def test_stager_builds_once(spark, tmp_path):
    built = []

    @staging.staged("test_builds_once")
    def stager(spark, sf_dir):
        built.append(sf_dir)
        return len(built)

    try:
        assert stager(spark, str(tmp_path)) == stager(spark, str(tmp_path)) == 1
        assert stager.builds == 1 and stager.last_build_s is not None
        assert staging.REGISTRY["test_builds_once"] is stager
    finally:
        del staging.REGISTRY["test_builds_once"]


def test_stager_counts_hits_and_rebuilds(spark, tmp_path):
    """Two calls are one build and one hit; a rewritten input file is one
    more build."""
    fixture = tmp_path / "fixture.csv"
    fixture.write_text("a\n")

    @staging.staged("test_hits")
    def stager(spark, path):
        return os.path.getsize(path)

    try:
        stager(spark, str(fixture))
        stager(spark, str(fixture))
        assert (stager.builds, stager.hits) == (1, 1)
        fixture.write_text("a\nb\n")
        assert stager(spark, str(fixture)) == 4
        assert (stager.builds, stager.hits) == (2, 1)
    finally:
        del staging.REGISTRY["test_hits"]


def test_cnpj_views_follow_size_sequence(spark):
    """A→B→A re-points the session's raw views at A's load."""
    a, b = "staging_test/sf0.001", "staging_test/sf0.01"

    def estab_rows() -> int:
        return spark.table("raw_estabelecimentos").count()

    cnpj_parity.ensure_cnpj_env(spark, a)
    n_a = estab_rows()
    cnpj_parity.ensure_cnpj_env(spark, b)
    assert estab_rows() != n_a
    cnpj_parity.ensure_cnpj_env(spark, a)
    assert estab_rows() == n_a
    raw_a = cnpj_parity._cnpj_raw(spark, cnpj_parity._sizes_for(a))
    files = spark.table("raw_estabelecimentos").inputFiles()
    assert files and all(raw_a["estabelecimentos"] in f for f in files)


def test_deleted_shard_is_restaged(spark, oracle_con, sf_dir):
    """A shard deleted under a valid manifest is regenerated by the next
    stage, and cnpj_flagship still matches its oracle."""
    sizes = cnpj_parity._sizes_for(os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "sf0.01"))
    _, paths = cnpj_parity._generated_fixtures(sizes)
    shard = paths["estabelecimentos"][0]
    size = os.path.getsize(shard)
    os.remove(shard)
    feed_file = os.path.join(cnpj_parity._feed_dir(sizes), "empresas.parquet")
    os.remove(feed_file)

    _, again = cnpj_parity._generated_fixtures(sizes)
    assert again == paths and os.path.getsize(shard) == size
    assert cnpj_parity.stage_oracle_feed(sizes) == cnpj_parity._feed_dir(sizes)
    assert os.path.exists(feed_file)

    spec = QUERIES["cnpj_flagship"]
    got = spec.fn(spark, sf_dir).toPandas()
    assert len(got) > 0
    assert_frames_match(got, oracle_con.execute(spec.oracle).df(), "cnpj_flagship")


def _write_orders(path: str, totals: list[float], as_dir: bool) -> None:
    """An orders table (o_custkey, o_totalprice) as one file, or as a
    directory holding one part file, rewritten in place."""
    t = pa.table({
        "o_custkey": pa.array(range(len(totals)), pa.int64()),
        "o_totalprice": pa.array(totals, pa.float64()),
    })
    if as_dir:
        os.makedirs(path, exist_ok=True)
        path = os.path.join(path, "part-0.parquet")
    pq.write_table(t, path)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "dir"])
def test_views_follow_in_place_rewrite(spark, tmp_path, as_dir):
    """A table rewritten in place, as a file or as a part file of a table
    directory, is what the next plan built over the views reads."""
    sf = str(tmp_path)
    path = os.path.join(sf, "orders.parquet")

    def max_total() -> float:
        v = views(spark, sf)
        return spark.sql(f"SELECT max(o_totalprice) AS m FROM {v['orders']}").first().m

    _write_orders(path, [1.0, 2.0], as_dir)
    assert max_total() == 2.0
    builds = staging.REGISTRY["views"].builds
    _write_orders(path, [1.0, 2.0, 30.0], as_dir)
    assert max_total() == 30.0
    assert staging.REGISTRY["views"].builds == builds + 1


def test_views_keep_each_sf_dir_apart(spark, sf_dir):
    """sf A → B → A in one session: every plan reads its own catalog,
    and plans built before the switch still read theirs."""
    a, b = SMOKE_SF_DIR, sf_dir
    plan = QUERIES["tpch_q3"].fn

    first_a = plan(spark, a)
    rows_a = sorted(first_a.collect())
    rows_b = sorted(plan(spark, b).collect())
    assert rows_a != rows_b
    assert sorted(plan(spark, a).collect()) == rows_a
    assert sorted(first_a.collect()) == rows_a
    assert views(spark, a)["orders"] != views(spark, b)["orders"]


def test_views_is_a_per_sf_stager():
    """bench.py's prewarm loop stages every per-sf stager as
    stage_<name>; the views stager is one of them."""
    assert staging.REGISTRY["views"] is views
    assert views.per_sf
    assert list(inspect.signature(views.fn).parameters) == ["spark", "sf_dir"]


def test_sql_self_join_over_one_view(spark, sf_dir):
    """Two SQL aliases of one view resolve as a self-join."""
    v = views(spark, sf_dir)["orders"]
    n = spark.table(v).count()
    got = spark.sql(
        f"SELECT count(*) AS n FROM {v} a JOIN {v} b ON a.o_orderkey = b.o_orderkey"
    ).first().n
    assert got == n


def test_table_and_views_name_one_view(spark, sf_dir):
    """``table()`` returns the session view that ``views()`` names."""
    v = views(spark, sf_dir)["orders"]
    assert v.startswith("__cat_") and spark.catalog.tableExists(v)
    assert table(spark, sf_dir, "orders").sameSemantics(spark.table(v))
    assert not table(spark, sf_dir, "customer").sameSemantics(spark.table(v))


def test_stagers_serve_a_new_session(spark):
    """Temp views belong to one SparkSession: after the first session
    has read a table, a ``newSession()`` reads it through ``table()``,
    a SQL statement over ``views()`` and plans, each from views of its
    own. ``sim_topk_ivf`` inlines the vector kernels' SQL text, so it
    needs nothing registered in the new session beyond the views."""
    sf = SMOKE_SF_DIR
    n = table(spark, sf, "nation").count()
    s2 = spark.newSession()
    assert table(s2, sf, "nation").count() == n
    v = views(s2, sf)["nation"]
    assert s2.sql(f"SELECT count(*) AS n FROM {v}").first().n == n
    for key in ("flagship", "sim_topk_ivf"):
        fn = QUERIES[key].fn
        assert sorted(fn(s2, sf).collect()) == sorted(fn(spark, sf).collect()), key


def test_aliased_self_join_over_table_handles(spark, sf_dir):
    """Two ``table()`` handles on one view share expression ids; aliased,
    with ``F.col("alias.c")`` references, they self-join."""
    a = table(spark, sf_dir, "orders").alias("a")
    b = table(spark, sf_dir, "orders").alias("b")
    got = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey")).count()
    assert got == table(spark, sf_dir, "orders").count()


def test_stage_root_is_private():
    staging._private_root()
    st = os.stat(staging.STAGE_ROOT)
    assert st.st_uid == os.getuid() and st.st_mode & 0o777 == 0o700


def test_no_hand_rolled_memos():
    """No module keys state by applicationId (temp views belong to one
    session, not to the application), and no module defines a
    module-level _*_cache / _*_CACHE dict: session memos go through
    @staged."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                src = fh.read()
            if "sparkContext.applicationId" in src:
                offenders.append(f"{rel}: sparkContext.applicationId")
            for node in ast.parse(src).body:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target] if isinstance(node, ast.AnnAssign)
                    else []
                )
                for t in targets:
                    if (
                        isinstance(t, ast.Name)
                        and t.id.startswith("_")
                        and t.id.lower().endswith("_cache")
                    ):
                        offenders.append(f"{rel}:{node.lineno}: {t.id}")
    assert offenders == []


def test_plans_take_scratch_dirs_from_session_tmpdir():
    """A plan build's scratch directory goes through
    ``staging.session_tmpdir``, which removes it at interpreter exit; a
    raw ``tempfile.mkdtemp`` leaks one directory per build."""
    offenders = []
    plans = os.path.join(PKG, "plans")
    for f in sorted(os.listdir(plans)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(plans, f)) as fh:
            tree = ast.parse(fh.read())
        offenders += [
            f"plans/{f}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "mkdtemp"
        ]
    assert offenders == []


def test_plan_scratch_dirs_gone_at_exit(tmp_path):
    """sink_parquet and scan_csv write scratch files while they build; a
    process that built both and exited leaves none of them in TMPDIR."""
    prefixes = ("sink_parquet_", "etl_cnpjs_scan_csv_")
    code = f"""
import glob, os, tempfile
from pyspark.sql import SparkSession
from etl_cnpjs_spark.plans import QUERIES
spark = SparkSession.builder.master("local[1]").getOrCreate()
for key in ("sink_parquet", "scan_csv"):
    QUERIES[key].fn(spark, {SMOKE_SF_DIR!r}).count()
for prefix in {prefixes!r}:
    assert glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")), prefix
"""
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run(
        [sys.executable, "-c", code], cwd=os.path.dirname(PKG), env=env, check=True, timeout=600
    )
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith(prefixes))
    assert left == []
