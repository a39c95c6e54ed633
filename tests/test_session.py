"""Session settings that the plans' speed depends on.

The codegen class cache is JVM-wide, so earlier tests have already filled
part of it. The test below compiles its own synthetic projections (each
distinct literal is its own generated class) instead of registry keys, so
what its first pass compiles does not depend on which tests ran before.
"""

from __future__ import annotations

from etl_cnpjs_spark import session

N_PROJECTIONS = 300


def _projection_pass(spark) -> int:
    c0 = session.codegen_compiles(spark)
    for i in range(N_PROJECTIONS):
        spark.range(10).selectExpr(f"id * {i} + {i} AS x").write.format("noop").mode("overwrite").save()
    return session.codegen_compiles(spark) - c0


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(session.CODEGEN_CACHE_ENTRIES)
    first = _projection_pass(spark)
    assert first >= N_PROJECTIONS, first  # each literal compiled its own class
    # With Spark's default 100 entries the second pass recompiles every
    # class the first one evicted.
    assert _projection_pass(spark) == 0
