"""Events-family plans (plans/events.py) checked against values derived
in pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- events_chi2_independence: the distinct counts folded into the final
  reduce.
- events_funnel_24h: the 24h conversion deadline, including the exact-24h
  boundary, against a hand-planted fixture.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

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


# --- events_funnel_24h vs sequential Python ----------------------------------

_H = 3_600_000_000  # µs per hour
_WEEK = 7 * 86_400_000_000


@pytest.fixture()
def funnel_dir(tmp_path):
    """One user per deadline rule, split across two signup weeks:

    week 0: u1 converts (+1h) | u2 purchase at exactly +24h -> NOT
            converted (strict <) | u3 purchase 1h BEFORE signup -> not
    week 1: u4 two signups, purchase 23h after the FIRST -> converted
            (25h after would miss) | u6 signup only -> not
    u5 purchase with no signup -> excluded entirely.
    """
    rows = [
        (1, 10 * _H, "signup"),
        (1, 11 * _H, "purchase"),
        (2, 10 * _H, "signup"),
        (2, 10 * _H + 24 * _H, "purchase"),
        (3, 10 * _H, "signup"),
        (3, 9 * _H, "purchase"),
        (4, _WEEK + 1 * _H, "signup"),
        (4, _WEEK + 3 * _H, "signup"),
        (4, _WEEK + 24 * _H, "purchase"),  # 23h after FIRST signup
        (5, 5 * _H, "purchase"),
        (6, _WEEK + 2 * _H, "signup"),
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            "user_id": [r[0] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


FUNNEL_EXPECTED = {
    # week: (n_signups, n_converted, ppm)
    0: (3, 1, 1_000_000 // 3),
    1: (2, 1, 500_000),
}


def test_funnel24_matches_sequential(spark, funnel_dir):
    rows = QUERIES["events_funnel_24h"].fn(spark, funnel_dir).collect()
    got = {
        r.signup_week: (r.n_signups, r.n_converted_24h, r.conversion_ppm)
        for r in rows
    }
    assert got == FUNNEL_EXPECTED
