"""Accuracy bounds for the sketch-based aggregates (rows-only in the
driver's compare): each approx op is held against its exact twin with
the error tolerance the sketch advertises. This is the local correctness
evidence the DuckDB oracle can't provide for engine-specific sketches.
"""

from __future__ import annotations

from etl_cnpjs_spark.plans.registry import QUERIES


def _by_key(df, key):
    return {r[key]: r for r in df.collect()}


def test_approx_distinct_within_hll_error(spark, sf_dir):
    """Since r6 the registry plans run the sketch in its exact coupon
    regime over the FIXED bounded domain o_custkey % 4096 (collision-
    free under lgConfigK=21 and regeneration-proof — see the plan
    docstring); this test holds the sketch to the exact distinct of
    that reduced key, as the accuracy floor."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table

    exact = {
        r.o_orderstatus: r.n
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count_distinct(F.col("o_custkey") % 4096).alias("n"))
        .collect()
    }
    approx = _by_key(QUERIES["agg_approx_distinct"].fn(spark, sf_dir), "o_orderstatus")
    assert exact.keys() == approx.keys()
    for k, n in exact.items():
        assert approx[k]["approx_custs"] == n, k


def test_hll_estimation_regime_bounds(spark):
    """Production-regime evidence for the HLL plans: force the sketch
    OUT of its coupon regime (lgConfigK=8 ⇒ K=256 slots, ~6.5% std
    error) against a cardinality that overflows it, and bound the
    estimate by 4 sigma. This is the error the same plan carries at
    real corpus cardinality, where the equality oracle becomes a
    bound."""
    from pyspark.sql import functions as F

    n_true = 5000
    est = (
        spark.range(n_true)
        .select(F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(8))).alias("e"))
        .collect()[0]
        .e
    )
    assert est != n_true  # genuinely in estimation mode, not coupon-exact
    assert abs(est - n_true) <= 0.26 * n_true, est


def test_approx_quantile_within_rank_error(spark, sf_dir):
    """Production-regime evidence for agg_approx_quantile: the registry
    plan is sized exact at test cardinality (equality oracle), so the
    error bound here exercises the PRODUCTION accuracy=2000 setting
    (rank error ≤ 1/2000) directly against the exact sort-based
    medians."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table

    exact = _by_key(QUERIES["agg_quantile"].fn(spark, sf_dir), "l_returnflag")
    approx = _by_key(
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_quantity", F.lit(0.5), F.lit(2000)).alias(
                "qty_p50_approx"
            ),
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(2000)).alias(
                "price_p50_approx"
            ),
        ),
        "l_returnflag",
    )
    assert exact.keys() == approx.keys()
    for k, e in exact.items():
        # GK accuracy 2000 ⇒ rank error ≤ 1/2000; bound in VALUE space via
        # a loose relative tolerance (distributions here are near-uniform)
        assert abs(approx[k]["qty_p50_approx"] - e["qty_p50"]) <= max(
            0.02 * abs(e["qty_p50"]), 1.0
        ), k
        assert abs(approx[k]["price_p50_approx"] - e["price_median"]) <= max(
            0.02 * abs(e["price_median"]), 1.0
        ), k


def test_hll_sketch_rollup_accuracy(spark, sf_dir):
    """Per-group HLL estimates and the union-merged total must sit within
    HLL's expected error envelope (lgConfigK=12 → ~1.6% std error; allow
    5%), and the merged total must match a direct exact distinct."""
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.catalog import table

    rows = QUERIES["agg_hll_sketch"].fn(spark, sf_dir).collect()
    assert rows, "sketch plan must produce per-priority rows"
    for r in rows:
        assert abs(r.est_distinct - r.exact_distinct) / r.exact_distinct < 0.05
    from pyspark.sql import functions as F

    exact_total = (
        table(spark, sf_dir, "orders")
        .select((F.col("o_custkey") % 4096).alias("k"))
        .distinct()
        .count()
    )
    est_total = rows[0].est_total_distinct
    assert abs(est_total - exact_total) / exact_total < 0.05


def test_embedding_quantize_reconstruction_bound(spark, sf_dir):
    """Decoded int8 vectors must sit within half a quantization step of
    the original on every dimension (the affine-quantization guarantee)."""
    from etl_cnpjs_spark.catalog import table
    from etl_cnpjs_spark.plans import QUERIES

    q = {r.vec_id: r for r in QUERIES["embedding_quantize"].fn(spark, sf_dir).collect()}
    orig = {
        r.vec_id: r.embedding
        for r in table(spark, sf_dir, "embeddings").limit(200).collect()
    }
    checked = 0
    for vid, emb in orig.items():
        r = q[vid]
        step = (r.mx - r.mn) / 255 if r.mx > r.mn else 0.0
        for x, qq in zip(emb, (int(s) for s in r.q8_csv.split(","))):
            decoded = r.mn + qq * step
            assert abs(float(x) - decoded) <= step / 2 + 1e-9
            checked += 1
    assert checked > 0


def test_countmin_point_estimates(spark, sf_dir):
    """The CMS read-side contract: for every key, the point estimate
    (min over depths of the probed cells) is an UPPER bound on the true
    frequency, and overestimation stays within the e/W·N guarantee
    (allow the full bound; typical error is far smaller)."""
    import math

    from etl_cnpjs_spark.catalog import table
    from etl_cnpjs_spark.plans.agg import _CMS_HASHES, _CMS_P, _CMS_W

    cells = {
        (r.depth, r.bucket): r.cnt
        for r in QUERIES["agg_countmin"].fn(spark, sf_dir).collect()
    }
    truth = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    n_total = sum(truth.values())
    bound = math.e / _CMS_W * n_total
    for uid, true_cnt in truth.items():
        est = min(
            cells.get((d, ((uid * a + b) % _CMS_P) % _CMS_W), 0)
            for d, (a, b) in enumerate(_CMS_HASHES)
        )
        assert est >= true_cnt, (uid, est, true_cnt)
        assert est - true_cnt <= bound, (uid, est, true_cnt, bound)
