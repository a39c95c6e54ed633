"""Plan construction cost: the plans written as one SQL statement over the
session views, and a warm ``catalog.table`` call, build with a handful of
py4j round trips and launch no job.

The round-trip count is deterministic, unlike wall time: every DataFrame
step or ``F.*`` call is one or more round trips, so a body that slides
back into a DataFrame chain fails here. Counted by wrapping py4j's
``ClientServerConnection.send_command`` around one build on a warm
session. Only commands sent from the building thread count: py4j's
finalizer thread releases garbage-collected objects of earlier work
through the same method at times of its own choosing.
"""

from __future__ import annotations

import threading

import pytest
from py4j.clientserver import ClientServerConnection

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans import QUERIES

ONE_STATEMENT_KEYS = [
    "flagship",
    "tpch_q3",
    "dq_check",
    "events_sessionize",
    "layout_zorder",
    "join_asof_nearest",
    "tpch_q1",
    "sim_topk",
    "sim_topk_ivf",
    "sim_topk_kmeans",
    "sim_recall_report",
    "sim_topk_filtered",
    "sim_maxsim",
    "sim_random_projection",
    "embedding_centroids",
    "embedding_quantize",
    "embedding_normalize",
    "embedding_pq",
]

PY4J_BUDGET = 20
TABLE_PY4J_BUDGET = 5


def _build_cost(spark, name, build, monkeypatch) -> tuple[int, list]:
    """(py4j round trips from this thread, job ids) of one ``build()``."""
    sc = spark.sparkContext
    group = f"build-budget-{name}"
    sc.setJobGroup(group, group)
    calls = []
    send = ClientServerConnection.send_command
    building_thread = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == building_thread:
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(calls), jobs


@pytest.mark.parametrize("key", ONE_STATEMENT_KEYS)
def test_one_statement_build_budget(spark, sf_dir, key, monkeypatch):
    fn = QUERIES[key].fn
    fn(spark, sf_dir).schema  # noqa: B018 - warm: stagers, views, footers
    n, jobs = _build_cost(spark, key, lambda: fn(spark, sf_dir), monkeypatch)
    assert n <= PY4J_BUDGET, f"{key}: {n} py4j round trips"
    assert jobs == [], f"{key}: build launched jobs {jobs}"


def test_warm_table_is_a_view_lookup(spark, sf_dir, monkeypatch):
    """A warm ``table()`` is one lookup of the session view: no footer
    read, no listing, no per-call timestamp fix-up."""
    table(spark, sf_dir, "lineitem").schema  # noqa: B018 - warm the view
    n, jobs = _build_cost(
        spark, "table", lambda: table(spark, sf_dir, "lineitem"), monkeypatch
    )
    assert n <= TABLE_PY4J_BUDGET, f"table(): {n} py4j round trips"
    assert jobs == [], f"table() launched jobs {jobs}"
