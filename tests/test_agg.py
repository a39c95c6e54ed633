"""Aggregation-family plans (plans/agg.py) checked against values derived
in pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- agg_target_encode: DECIMAL(38,0) window accumulation.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from etl_cnpjs_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_target_encode_matches_pure_python(spark):
    """LOO target encoding from raw rows with exact Python ints (no
    precision ceiling at all) — pins that the DECIMAL(38,0) promotion
    computes the same floor quotient the unbounded-integer fold does."""
    t = pq.read_table(
        os.path.join(SF_DIR, "orders.parquet"),
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    rows = list(
        zip(
            t.column("o_orderkey").to_pylist(),
            t.column("o_orderpriority").to_pylist(),
            t.column("o_totalprice").to_pylist(),
        )
    )
    s: dict[str, int] = {}
    cnt: dict[str, int] = {}
    cents = {}
    for ok, pr, tp in rows:
        c = math.floor(tp * 100 + 0.5)
        cents[ok] = (pr, c)
        s[pr] = s.get(pr, 0) + c
        cnt[pr] = cnt.get(pr, 0) + 1
    expected = {
        ok: (s[pr] - c) * 1_000_000 // (cnt[pr] - 1)
        for ok, (pr, c) in cents.items()
        if cnt[pr] > 1
    }

    got = {
        r.o_orderkey: r.loo_mean_microcents
        for r in QUERIES["agg_target_encode"].fn(spark, SF_DIR).collect()
    }
    assert got == expected
