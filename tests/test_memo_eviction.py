"""staging.clear: the eviction hook for the session stagers (r9 ADVICE
low #4 — the memos never evict on their own, which is fine for
one-application bench runs but leaks block sets in a long-lived
session that walks many sf_dirs)."""

from __future__ import annotations

from etl_cnpjs_spark import staging
from etl_cnpjs_spark.plans import dedup

DEDUP_STAGERS = ("shingles", "pairs", "labels", "banded")


def _memo(name: str) -> dict:
    return staging.REGISTRY[name].memo


def test_clear_evicts_and_rebuilds(spark, sf_dir):
    before = {tuple(r) for r in dedup._banded8x2(spark, sf_dir).select("doc_id").collect()}
    assert (spark, (sf_dir,)) in _memo("banded")
    assert (spark, (sf_dir,)) in _memo("shingles")

    n = staging.clear(spark)
    assert n >= 2
    assert all(key[0] is not spark for name in DEDUP_STAGERS for key in _memo(name))

    # the memo rebuilds transparently and reproduces the same frame
    after = {tuple(r) for r in dedup._banded8x2(spark, sf_dir).select("doc_id").collect()}
    assert after == before
    assert (spark, (sf_dir,)) in _memo("banded")


def test_clear_all_and_scoped_noop(spark, sf_dir):
    dedup._doc_shingles(spark, sf_dir)
    # a scoped clear for a session that staged nothing touches nothing
    assert staging.clear(spark.newSession()) == 0
    assert _memo("shingles")
    # an unscoped clear drops everything
    assert staging.clear() >= 1
    assert not _memo("shingles")
    assert not _memo("banded")
