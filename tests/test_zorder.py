"""Z-order layout proof from REAL file-level stats.

`layout_zorder` (the planner) is oracle-checked in test_queries; this
test materializes the layout with zorder_write (repartitionByRange on the
Z-value + sortWithinPartitions — what OPTIMIZE ZORDER does) and derives
skipping from per-file min/max, the same stats a parquet reader prunes
with:

- Z-ordered files: a quarter-domain probe on EITHER dimension overlaps
  well under the full file set (measured 14/32 on x, 10/32 on y at
  sf0.01).
- Linear sort on x (the control — what a single-column index/sort gives,
  cf. the reference's per-column SQLite indexes): the x-probe prunes
  hard, but the y-probe hits EVERY file.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.io import _PROBE_HI, _PROBE_LO, zorder_write


def _file_hits(spark, path):
    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    stats = back.groupBy("f").agg(
        F.min("xs").alias("mnx"),
        F.max("xs").alias("mxx"),
        F.min("ys").alias("mny"),
        F.max("ys").alias("mxy"),
    ).collect()
    hx = sum(1 for r in stats if r.mnx <= _PROBE_HI and r.mxx >= _PROBE_LO)
    hy = sum(1 for r in stats if r.mny <= _PROBE_HI and r.mxy >= _PROBE_LO)
    return len(stats), hx, hy


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="zorder_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_zorder_files_skip_on_both_dimensions(spark, sf_dir, tmpdir):
    out = os.path.join(tmpdir, "zorder")
    zorder_write(spark, sf_dir, out, n_files=32)
    n, hx, hy = _file_hits(spark, out)
    assert n == 32
    # quarter-domain probes must prune real files on BOTH axes
    assert hx <= 20, f"x-probe should skip files under z-order, hit {hx}/{n}"
    assert hy <= 20, f"y-probe should skip files under z-order, hit {hy}/{n}"


def test_linear_sort_serves_only_its_own_dimension(spark, sf_dir, tmpdir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("x"), F.col("l_partkey").alias("y")
    )
    st = li.agg(
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    norm = li.crossJoin(F.broadcast(st)).selectExpr(
        "((x - minx) * 1024) div (maxx - minx + 1) AS xs",
        "((y - miny) * 1024) div (maxy - miny + 1) AS ys",
    )
    out = os.path.join(tmpdir, "linear")
    norm.repartitionByRange(32, F.col("xs")).sortWithinPartitions("xs").write.parquet(out)
    n, hx, hy = _file_hits(spark, out)
    assert hx <= 12, "linear sort prunes its own sort column"
    assert hy == n, "…but a probe on the other dimension reads every file"
