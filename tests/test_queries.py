"""The correctness gate, locally: every registered plan runs on Spark at
sf0.01 and (when an oracle exists) must match DuckDB bit-for-bit,
order-insensitively — a stricter local version of the driver's
CORRECTNESS_r{N}.json check."""

from __future__ import annotations

import pytest

from etl_cnpjs_spark.plans import QUERIES
from tests.compare import assert_frames_match


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle_con, sf_dir):
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        # rows-only check (sketches / LSH / streaming state)
        assert len(spark_pdf.columns) > 0
        assert len(spark_pdf) >= 0  # must at least evaluate
        return
    oracle_pdf = oracle_con.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) == 20


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_toplevel_columns(name, spark, sf_dir):
    """Driver-boundary contract: the driver's canonicalizer sorts every
    output column with pandas (CORRECTNESS harness); raw array/map/struct
    top-level columns raise `unhashable type: 'list'` there (the round-1
    fn_array_ops FAIL). Complex intermediates are fine — they must leave
    the plan exploded or array_join'ed."""
    df = QUERIES[name].fn(spark, sf_dir)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert complex_cols == [], (
        f"{name} emits driver-unsortable top-level columns: {complex_cols}"
    )


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(f) for f in q.values())
    assert all(
        isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH"))
        for s in o.values()
    )


def test_weighted_mix_hits_target_rates(spark):
    """Statistical check at the largest SF: each language's realized keep
    rate must be close to its target (multiplicative hashing is a good
    PRF; tolerance is generous because strata are hundreds-to-thousands
    of docs)."""
    import os

    import pytest

    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.corpus import _MIX_RATES
    from etl_cnpjs_spark.catalog import table, table_path

    sf = "/root/testdata/sf0.1"  # largest staged SF: the statistical check
    if not os.path.exists(table_path(sf, "documents")):
        pytest.skip("sf0.1 testdata not staged on this box")
    totals = {
        r["lang"]: r["n"]
        for r in table(spark, sf, "documents").groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    kept = {
        r["lang"]: r["n"]
        for r in QUERIES["sample_weighted_mix"].fn(spark, sf).groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    for lang, rate in _MIX_RATES.items():
        if lang not in totals:  # driver regenerated data without this lang
            continue
        realized = kept.get(lang, 0) / totals[lang]
        assert abs(realized - rate) < 0.08, (lang, realized, rate)


def test_approx_topk_regime_is_exact(spark):
    """agg_approx_topk's GROUP BY oracle is an equality only while
    event_type cardinality stays under the sketch's k=64 — pin the
    regime so a testdata regeneration that blows past it fails loudly
    here instead of as a driver-row mismatch."""
    from etl_cnpjs_spark.catalog import table
    from tests.conftest import SF_DIR

    n = table(spark, SF_DIR, "events").select("event_type").distinct().count()
    assert n <= 64, f"event_type cardinality {n} exceeds the sketch k"


def test_approx_distinct_regime_is_exact(spark, sf_dir):
    """agg_approx_distinct / agg_hll_sketch carry COUNT(DISTINCT)
    equality oracles because they sketch the FIXED bounded domain
    o_custkey % 4096, verified collision-free under lgConfigK=21 —
    pin that the sketch estimates EQUAL the exact distinct of the
    reduced key at the current SF. (The free-range-key version of
    this pin caught a real regression: the round-6 testdata regen
    produced coupon collisions at sf0.1 — est one short of exact —
    which is why the plans moved to the bounded domain.)"""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table

    for r in QUERIES["agg_hll_sketch"].fn(spark, sf_dir).collect():
        assert r.est_distinct == r.exact_distinct, r
    approx = {
        r.o_orderstatus: r.approx_custs
        for r in QUERIES["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.o_orderstatus: r.n
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count_distinct(F.col("o_custkey") % 4096).alias("n"))
        .collect()
    }
    assert approx == exact


def test_approx_quantile_regime_is_exact(spark, sf_dir):
    """agg_approx_quantile's quantile_disc oracle is an equality only
    while every group fits inside the GK summary's accuracy (no
    compression ⇒ exact discrete median) — pin group sizes under the
    accuracy knob."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table
    from etl_cnpjs_spark.plans.agg import APPROX_QUANTILE_ACCURACY

    top = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert top < APPROX_QUANTILE_ACCURACY, top


def test_linreg_matches_numpy_fit(spark):
    """Cross-engine equality can share a bug; pin the math itself against
    numpy's least squares on the same quantized inputs (sf0.001)."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = (
        QUERIES["agg_linreg"].fn(spark, sf).toPandas().set_index("l_returnflag")
    )
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    for flag, g in li.groupby("l_returnflag"):
        x = np.floor(g["l_quantity"].to_numpy() * 100 + 0.5) / 100.0
        y = np.floor(g["l_extendedprice"].to_numpy() * 100 + 0.5) / 100.0
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        row = out.loc[flag]
        assert row["n_rows"] == len(g)
        assert abs(row["slope"] - slope) < 1e-4, (flag, row["slope"], slope)
        assert abs(row["intercept"] - intercept) < 1e-2, (flag, row["intercept"], intercept)
        assert abs(row["r2"] - r * r) < 1e-6, (flag, row["r2"], r * r)


def test_downsample_bucket_selects_true_extremes(spark):
    """Each (series, bucket) emits exactly one 'lo' and one 'hi' row, and
    they carry the bucket's true min/max values (sf0.001)."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = QUERIES["events_downsample_bucket"].fn(spark, sf).toPandas()
    ev = pd.read_parquet(f"{sf}/events.parquet")
    epoch_s = ev["ts"].astype("datetime64[s]").astype("int64")  # floor to seconds
    ev["bucket_s"] = (epoch_s // 900) * 900
    truth = ev.groupby(["event_type", "bucket_s"])["value"].agg(["min", "max"])
    per_role = out.groupby(["event_type", "bucket_s", "role"]).size()
    assert (per_role == 1).all(), "each role must appear exactly once per bucket"
    lo = out[out["role"] == "lo"].set_index(["event_type", "bucket_s"])["value"].sort_index()
    hi = out[out["role"] == "hi"].set_index(["event_type", "bucket_s"])["value"].sort_index()
    truth = truth.sort_index()  # align labels: Spark output order is not a contract
    assert len(lo) == len(truth) and len(hi) == len(truth)
    assert (lo == truth["min"]).all() and (hi == truth["max"]).all()


def test_dedup_sweep_funnel_is_nested_and_consistent(spark):
    """Funnel counts must nest (final ≤ near ≤ exact ≤ total) and the
    stage-2 total must reconcile exactly with dedup_canonical's
    surviving-corpus size: canonical lacks the exact-text stage, so the
    only divergence is duplicate texts too short to shingle (<3 tokens —
    CC singletons the sweep's exact stage removes but canonical keeps)."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    rep = QUERIES["corpus_dedup_sweep"].fn(spark, sf).toPandas()
    assert (rep["kept_final"] <= rep["kept_near"]).all()
    assert (rep["kept_near"] <= rep["kept_exact"]).all()
    assert (rep["kept_exact"] <= rep["n_docs"]).all()
    canonical_n = QUERIES["dedup_canonical"].fn(spark, sf).count()
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    docs["is_dup_nonmin"] = docs["doc_id"] != docs.groupby("text")["doc_id"].transform(
        "min"
    )
    docs["n_toks"] = docs["text"].str.strip().str.split().map(len)
    short_dups = int((docs["is_dup_nonmin"] & (docs["n_toks"] < 3)).sum())
    assert int(rep["kept_near"].sum()) == canonical_n - short_dups


def test_corr_matrix_matches_numpy(spark):
    """Pin the correlation math against numpy on the same quantized
    inputs (sf0.001) — cross-engine equality alone could share a bug."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = QUERIES["agg_corr_matrix"].fn(spark, sf).toPandas().iloc[0]
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    cols = {
        "q": "l_quantity",
        "e": "l_extendedprice",
        "d": "l_discount",
        "t": "l_tax",
    }
    scaled = {
        s: np.floor(li[c].to_numpy() * 100 + 0.5) for s, c in cols.items()
    }
    assert out["n_rows"] == len(li)
    for a, b in (("q", "e"), ("q", "d"), ("q", "t"), ("e", "d"), ("e", "t"), ("d", "t")):
        want = np.corrcoef(scaled[a], scaled[b])[0, 1]
        got = out[f"corr_{a}_{b}"]
        assert abs(got - want) < 1e-6, (a, b, got, want)


def test_asof_nearest_matches_bruteforce(spark):
    """Every click's match must be the true nearest deduped purchase,
    ties toward backward (sf0.001 brute force)."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = (
        QUERIES["join_asof_nearest"].fn(spark, sf).toPandas().set_index("event_id")
    )
    ev = pd.read_parquet(f"{sf}/events.parquet")
    p = (
        ev[ev["event_type"] == "purchase"]
        .sort_values("event_id")
        .groupby(["user_id", "ts"], as_index=False)
        .last()  # max event_id per (user, ts) — the dedup rule
    )
    clicks = ev[ev["event_type"] == "click"]
    assert len(out) == len(clicks)
    for _, c in clicks.iterrows():
        cand = p[p["user_id"] == c["user_id"]]
        row = out.loc[c["event_id"]]
        if cand.empty:
            assert pd.isna(row["near_p_id"])
            continue
        diffs = (cand["ts"] - c["ts"]).abs()
        best = diffs.min()
        tied = cand[diffs == best]
        # ties toward the backward (earlier-ts) candidate
        pick = tied.sort_values("ts").iloc[0]
        assert row["near_p_id"] == pick["event_id"], c["event_id"]
        assert row["near_diff_us"] == best // pd.Timedelta(microseconds=1)


def test_gap_detect_matches_pandas(spark):
    """Gap intervals equal the pandas diff-based computation (sf0.001)."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = QUERIES["events_gap_detect"].fn(spark, sf).toPandas()
    ev = pd.read_parquet(f"{sf}/events.parquet").sort_values(["user_id", "ts", "event_id"])
    ev["prev_ts"] = ev.groupby("user_id")["ts"].shift()
    gap = (ev["ts"] - ev["prev_ts"]).dt.total_seconds() * 1_000_000
    want = ev[gap > 2 * 24 * 3600 * 1_000_000]
    assert len(out) == len(want)
    got = set(zip(out["user_id"], out["gap_end"]))
    assert got == set(zip(want["user_id"], want["ts"]))


def test_forecast_eval_matches_pandas(spark):
    """Seasonal-naive backtest equals the pandas recompute (sf0.001)."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = (
        QUERIES["events_forecast_eval"].fn(spark, sf).toPandas()
        .set_index("event_type")
    )
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["hour_s"] = (ev["ts"].astype("datetime64[s]").astype("int64") // 3600) * 3600
    h = ev.groupby(["event_type", "hour_s"]).size().rename("cnt").reset_index()
    f = h.assign(hour_s=h["hour_s"] + 7 * 24 * 3600).rename(columns={"cnt": "fc"})
    j = h.merge(f, on=["event_type", "hour_s"])
    for et, g in j.groupby("event_type"):
        d = g["cnt"] - g["fc"]
        row = out.loc[et]
        assert row["n_hours"] == len(g)
        assert row["abs_err_sum"] == d.abs().sum()
        assert row["bias_sum"] == d.sum()
        assert row["mae_ppm"] == d.abs().sum() * 1_000_000 // len(g)


def test_collation_folds_exactly_the_case_variants(spark):
    """Each collated group must fold exactly the spellings the CASE
    mangle produced — proving the groupBy ran collation-aware rather
    than on pre-lowered strings with a fabricated variant count."""
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    sf = SMOKE_SF_DIR
    out = QUERIES["fn_collation"].fn(spark, sf).toPandas().set_index("segment")
    c = pd.read_parquet(f"{sf}/customer.parquet")
    seg = c["c_mktsegment"].where(c["c_custkey"] % 2 == 0, c["c_mktsegment"].str.lower())
    seg = seg.where(c["c_custkey"] % 2 != 0, c["c_mktsegment"].str.upper())
    want = seg.groupby(seg.str.lower()).agg(["size", "nunique"])
    assert len(out) == len(want)
    for segment, (n, variants) in want.iterrows():
        assert out.loc[segment, "n"] == n
        assert out.loc[segment, "n_binary_variants"] == variants


def test_markov_transitions_rows_sum_to_one(spark):
    """Each prev_type's transition counts must sum to its row total and
    probabilities to ~1 (ppm floor truncation loses < |types| ppm)."""
    from tests.conftest import SMOKE_SF_DIR

    out = QUERIES["events_markov_transitions"].fn(spark, SMOKE_SF_DIR).toPandas()
    by_prev = out.groupby("prev_type").agg(cnt=("cnt", "sum"), p=("p_ppm", "sum"))
    n_types = out["next_type"].nunique()
    for prev, row in by_prev.iterrows():
        assert 1_000_000 - n_types <= row["p"] <= 1_000_000, (prev, row["p"])


def test_interpolate_linear_matches_pandas(spark):
    """Interpolated cells equal pandas' time-based linear interpolation
    on the same hourly series; observed cells pass through exactly."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SMOKE_SF_DIR

    out = QUERIES["events_interpolate_linear"].fn(spark, SMOKE_SF_DIR).toPandas()
    obs = out[out["observed"].notna()]
    assert (obs["interp_value"] == obs["observed"]).all(), "observed must pass through"
    for uid, g in out.groupby("user_id"):
        s = g.set_index("hour_ts").sort_index()
        want = s["observed"].interpolate(method="time", limit_direction="both")
        got = s["interp_value"]
        assert np.allclose(got.to_numpy(), want.to_numpy(), atol=1e-6), uid


def test_temperature_mix_follows_sqrt_law(spark):
    """Realized per-language keep rates must match sqrt(n_min/n_l)
    closely (deterministic-hash PRF quality), and the smallest language
    must keep 100% of its docs."""
    import math

    import pandas as pd

    from tests.conftest import SF_DIR

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    totals = docs.groupby("lang").size()
    kept = (
        QUERIES["sample_temperature_mix"].fn(spark, SF_DIR).toPandas()
        .groupby("lang").size()
    )
    nmin = totals.min()
    smallest = totals.idxmin()
    assert kept[smallest] == totals[smallest], "smallest language keeps 100%"
    for lang, n in totals.items():
        want = math.sqrt(nmin / n)
        realized = kept.get(lang, 0) / n
        assert abs(realized - want) < 0.08, (lang, realized, want)


def test_spatial_grid_equals_bruteforce(spark, sf_dir):
    """The grid-bucketed radius join must equal the exact all-pairs
    join — no pair lost at cell boundaries, none invented — proven
    in-engine (the oracle proves it cross-engine)."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table
    from etl_cnpjs_spark.plans.relational import _SPATIAL_R

    grid = QUERIES["join_spatial_grid"].fn(spark, sf_dir)
    p = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    d2 = (F.col("a_x") - F.col("b_x")) * (F.col("a_x") - F.col("b_x")) + (
        F.col("a_y") - F.col("b_y")
    ) * (F.col("a_y") - F.col("b_y"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a_vec_id") < F.col("b_vec_id"))
        .filter(d2 < _SPATIAL_R * _SPATIAL_R)
        .select(
            F.col("a_vec_id").alias("a_id"), F.col("b_vec_id").alias("b_id")
        )
    )
    got = grid.select("a_id", "b_id")
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0
    assert got.count() == got.distinct().count(), "each pair exactly once"


def test_attribution_channels_and_totals(spark, sf_dir):
    """Every purchase is attributed to exactly one channel, and channel
    purchase counts sum to the total purchase count."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table

    out = QUERIES["events_attribution"].fn(spark, sf_dir).toPandas()
    assert set(out["attributed"]) <= {"click", "view", "none"}
    n_purchases = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert int(out["purchases"].sum()) == n_purchases


def test_cooccurrence_bounds(spark, sf_dir):
    """Pair support can't exceed either marginal, pairs are strictly
    ordered, and lift is positive."""
    import pandas as pd

    from tests.conftest import SF_DIR

    out = QUERIES["agg_cooccurrence"].fn(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    marg = ev.groupby("event_type")["user_id"].nunique()
    assert (out["type_a"] < out["type_b"]).all()
    for _, r in out.iterrows():
        assert r["n_ab"] <= min(marg[r["type_a"]], marg[r["type_b"]])
    assert (out["lift_ppm"] > 0).all()


def test_dq_drift_decomposition(spark, sf_dir):
    """Window counts must cover every event exactly once and the
    chi-square contributions are non-negative."""
    import pandas as pd

    from tests.conftest import SF_DIR

    out = QUERIES["dq_drift"].fn(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    assert int((out["c1"] + out["c2"]).sum()) == len(ev)
    assert (out["chi2_micro"] >= 0).all()
    got = out.set_index("event_type")[["c1", "c2"]].sum(axis=1)
    want = ev.groupby("event_type").size()
    pd.testing.assert_series_equal(
        got.sort_index().astype(int), want.sort_index().astype(int),
        check_names=False,
    )


def test_graph_jaccard_score_bounds(spark, sf_dir):
    """Jaccard ppm is in (0, 1e6]; scored pairs are non-adjacent and
    strictly ordered."""
    out = QUERIES["graph_jaccard"].fn(spark, sf_dir).toPandas()
    assert (out["jaccard_ppm"] > 0).all()
    assert (out["jaccard_ppm"] <= 1_000_000).all()
    assert (out["u"] < out["v"]).all()
    assert (out["common_cnt"] >= 1).all()


def test_anomaly_mad_matches_numpy(spark, sf_dir):
    """Median/MAD per user must equal numpy's on the micro-quantized
    values, and robust z is max deviation over 1.4826*MAD."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SF_DIR

    out = (
        QUERIES["events_anomaly_mad"].fn(spark, SF_DIR).toPandas()
        .set_index("user_id")
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["v"] = np.floor(ev["value"] * 1e6 + 0.5)
    for uid, g in list(ev.groupby("user_id"))[:20]:
        med = np.median(g["v"])
        ad = (g["v"] - med).abs()
        mad = np.median(ad)
        row = out.loc[uid]
        assert abs(row["median_value"] - med / 1e6) < 1e-9, uid
        assert abs(row["mad_value"] - mad / 1e6) < 1e-9, uid
        if mad > 0:
            want = ad.max() / (mad * 1.4826)
            assert abs(row["max_robust_z"] - want) < 1e-5, uid


def test_spatial_knn_exact_and_complete(spark, sf_dir):
    """Every point gets exactly k ranked neighbors, ranks are 1..k, and
    spot-checked points match numpy's exact kNN."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SF_DIR
    from etl_cnpjs_spark.plans.relational import _KNN_K

    out = QUERIES["join_spatial_knn"].fn(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    pts = np.stack(emb["embedding"].to_numpy())[:, :2].astype("float64")
    ids = emb["vec_id"].to_numpy()
    assert len(out) == len(emb) * _KNN_K
    per = out.groupby("a_id")["rank"].agg(["min", "max", "count"])
    assert (per["min"] == 1).all() and (per["max"] == _KNN_K).all()
    assert (per["count"] == _KNN_K).all()
    rng = np.random.RandomState(7)
    for idx in rng.choice(len(ids), 15, replace=False):
        d2 = ((pts - pts[idx]) ** 2).sum(axis=1)
        order = sorted(
            (float(d2[j]), int(ids[j])) for j in range(len(ids)) if ids[j] != ids[idx]
        )
        want = [b for _, b in order[:_KNN_K]]
        got = (
            out[out["a_id"] == ids[idx]].sort_values("rank")["b_id"].tolist()
        )
        assert got == want, (ids[idx], got, want)


def test_survival_hazard_invariants(spark, sf_dir):
    """at_risk is the suffix sum of churned, hazard of the first day is
    1e6 (everyone at risk on the earliest day eventually churns at or
    after it... the LAST day's hazard is exactly 1e6), and churned sums
    to the user count."""
    import pandas as pd

    from tests.conftest import SF_DIR

    out = (
        QUERIES["events_survival_hazard"].fn(spark, SF_DIR).toPandas()
        .sort_values("day", ascending=False).reset_index(drop=True)
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    assert int(out["churned"].sum()) == ev["user_id"].nunique()
    assert (out["churned"].cumsum() == out["at_risk"]).all()
    assert int(out.iloc[0]["hazard_ppm"]) == 1_000_000  # latest day: all remaining churn
    assert (out["hazard_ppm"] <= 1_000_000).all()


def test_image_dedup_groups_cover_corpus(spark, sf_dir):
    """Duplicate groups are disjoint md5 classes: group sizes plus
    singletons cover the whole corpus, and the canonical is the min
    doc_id of its seed class."""
    import pandas as pd

    from tests.conftest import SF_DIR

    out = QUERIES["mm_image_dedup"].fn(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    seeds = docs["doc_id"] % 64
    sizes = seeds.value_counts()
    want_groups = sizes[sizes >= 2]
    assert len(out) == len(want_groups)
    assert int(out["n_dups"].sum()) == int(want_groups.sum())
    want_canon = set(docs.groupby(seeds)["doc_id"].min()[want_groups.index])
    assert set(out["canonical_id"]) == want_canon


def test_phash_merges_byte_distinct_near_dups(spark, sf_dir):
    """The perceptual-vs-exact contract: aHash grouping must merge the
    brightness-shifted seed family the md5 grouping keeps separate —
    exactly one fewer perceptual group than byte-content groups (the
    seed-0/seed-63 merge), and never a split md5 group (byte-identical
    images cannot be perceptually distinct)."""
    md5_groups = QUERIES["mm_image_dedup"].fn(spark, sf_dir).count()
    # mm_image_dedup reports only groups >= 2; recount at the same grain
    from etl_cnpjs_spark.catalog import table

    n_seeds = (
        table(spark, sf_dir, "documents")
        .selectExpr("count(distinct doc_id % 64) AS n")
        .collect()[0]
        .n
    )
    phash_groups = QUERIES["mm_image_phash"].fn(spark, sf_dir).count()
    assert phash_groups == n_seeds - 1, (phash_groups, n_seeds)
