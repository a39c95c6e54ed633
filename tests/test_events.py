"""Events-family plans (plans/events.py) checked against values derived
in pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- events_chi2_independence: the distinct counts folded into the final
  reduce.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from etl_cnpjs_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_chi2_independence_matches_pure_python(spark):
    """Pearson chi-square of event_type x (user_id % 2) from raw rows:
    contingency counts, window totals, floor-micro quantization — the
    registered arithmetic replayed with Python ints/floats only."""
    t = pq.read_table(
        os.path.join(SF_DIR, "events.parquet"), columns=["event_type", "user_id"]
    )
    cells: dict[tuple[str, int], int] = {}
    for et, uid in zip(
        t.column("event_type").to_pylist(), t.column("user_id").to_pylist()
    ):
        k = (et, uid % 2)
        cells[k] = cells.get(k, 0) + 1
    n = sum(cells.values())
    rt = {}
    ct = {}
    for (et, ch), o in cells.items():
        rt[et] = rt.get(et, 0) + o
        ct[ch] = ct.get(ch, 0) + o
    chi2_micro = 0
    for (et, ch), o in cells.items():
        e = float(rt[et]) * float(ct[ch]) / float(n)
        dev = float(o) - e
        chi2_micro += math.floor(dev * dev / e * 1000000 + 0.5)
    dof = (len(rt) - 1) * (len(ct) - 1)

    row = QUERIES["events_chi2_independence"].fn(spark, SF_DIR).collect()[0]
    assert row.n == n
    assert row.dof == dof
    assert row.chi2_micro == chi2_micro
    assert row.chi2 == chi2_micro / 1e6
