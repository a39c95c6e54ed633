"""plan_audit eager-action detection (VERDICT r7 item 1).

The house rule is "broadcast scalars, never collect": no registered plan
function may run a Spark job while it BUILDS its DataFrame — at 100 TB an
eager count()/collect() at plan-build time is an extra full pass over the
input plus a driver sync before the real query starts. tools/plan_audit.py
now intercepts every DataFrame action method while each plan function runs
(record_eager); these tests prove the detector fires on a seeded violation,
stays silent on compliant plans (including the two keys fixed this round),
and honors the adjudicated allowlist (the iterative-CC convergence probe
and the brute-force-oracle size guards).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR  # noqa: E402
from tools.plan_audit import EAGER_ACTIONS, record_eager  # noqa: E402


def test_seeded_violation_flags(spark):
    """A plan function that counts during construction is caught, with
    the offending action named."""

    def bad_plan(spark, sf_dir):
        df = spark.range(100)
        n = df.count()  # the violation: a job at plan-build time
        return df.withColumn("n", F.lit(n))

    with record_eager() as hits:
        bad_plan(spark, SF_DIR)
    assert [h[0] for h in hits] == ["count"]


def test_every_intercepted_action_fires(spark):
    """Each method in EAGER_ACTIONS is actually intercepted (a rename in
    a future pyspark would silently blind the audit otherwise)."""
    import tempfile

    spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix="eager_ckpt_"))
    df = spark.range(5)
    calls = {
        "count": lambda: df.count(),
        "collect": lambda: df.collect(),
        "first": lambda: df.first(),
        "take": lambda: df.take(1),
        "toPandas": lambda: df.toPandas(),
        "show": lambda: df.show(1),
        "head": lambda: df.head(1),
        "isEmpty": lambda: df.isEmpty(),
        "tail": lambda: df.tail(1),
        "toLocalIterator": lambda: list(df.toLocalIterator()),
        "foreach": lambda: df.foreach(lambda r: None),
        "foreachPartition": lambda: df.foreachPartition(lambda it: None),
        "checkpoint": lambda: df.checkpoint(),
    }
    assert set(calls) == set(EAGER_ACTIONS)
    for name, call in calls.items():
        with record_eager() as hits:
            call()
        assert hits and hits[0][0] == name, name
        # nested eager calls (first -> head -> take) record once
        assert len(hits) == 1, (name, hits)


def test_fixed_keys_build_clean(spark):
    """The two r7-flagged keys (text_keywords eager count,
    events_chi2_independence double distinct-count) now build without
    any driver job."""
    from etl_cnpjs_spark.plans.events import events_chi2_independence
    from etl_cnpjs_spark.plans.text import text_keywords

    for fn in (text_keywords, events_chi2_independence):
        with record_eager() as hits:
            fn(spark, SF_DIR)
        assert hits == [], (fn.__name__, hits)


def test_adjudicated_guard_sites_stay_silent(spark):
    """The brute-force size guard's count() is an adjudicated site —
    the detector must not flag it (it is the refusal mechanism, not a
    hidden scan)."""
    from etl_cnpjs_spark.operators.similarity import all_pairs_cosine_blocked

    vecs = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias("emb"),
    )
    with record_eager() as hits:
        all_pairs_cosine_blocked(
            vecs, id_col="vec_id", vec_col="emb", tau=0.5, max_rows=50
        )
    assert hits == [], hits


def test_restores_originals(spark):
    """Interception is scoped: after the context exits, DataFrame methods
    are the pyspark originals again."""
    from pyspark.sql import DataFrame

    before = DataFrame.count
    with record_eager():
        assert DataFrame.count is not before
    assert DataFrame.count is before
