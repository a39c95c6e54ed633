"""Physical-plan regression tests: the scale properties the engine
promises (SURVEY.md §4) asserted from `explain` output, so a future edit
that silently de-optimizes a plan — loses a pushed filter, widens a scan,
adds a shuffle — fails CI, not the 100 TB run.

What each assertion pins:
- flagship: IN-list filters reach the parquet scan (PushedFilters), all
  four dimension joins broadcast, and the whole star runs shuffle-free.
- column pruning: a 3-column projection reads a 3-column ReadSchema.
- bucketed join: co-located layout ⇒ no Exchange anywhere in the plan.
- partial aggregation: groupBy aggregates run map-side (partial_*) before
  the shuffle.
"""

from __future__ import annotations

import contextlib
import io

from etl_cnpjs_spark.plans import QUERIES


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_flagship_pushdown_broadcast_no_shuffle(spark, sf_dir):
    plan = explain_str(QUERIES["flagship"].fn(spark, sf_dir))
    assert "PushedFilters: [In(l_partkey" in plan, "IN-list must reach the scan"
    # formatted explain names each node in the tree and again in the
    # detail section — 4 broadcast joins appear as 8 mentions
    assert plan.count("BroadcastHashJoin Inner") == 4, "all four dims must broadcast"
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, "star join must be shuffle-free"


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = explain_str(QUERIES["sample_hash"].fn(spark, sf_dir))
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>" in plan
    assert "Exchange" not in plan, "scan+filter+project must not shuffle"


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    plan = explain_str(QUERIES["join_bucketed"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed co-located join must not shuffle"
    assert "SelectedBucketsCount" in plan, "scan must be bucket-aware"


def test_groupby_aggregates_map_side(spark, sf_dir):
    plan = explain_str(QUERIES["agg_count_by"].fn(spark, sf_dir))
    assert "partial_count" in plan, "aggregation must combine map-side"


def test_partition_pruning_reaches_scan(spark, sf_dir):
    plan = explain_str(QUERIES["sink_partitioned"].fn(spark, sf_dir))
    assert "PartitionFilters: [c_nationkey" in plan
    # the predicate moved entirely into partition pruning — no residual
    # Filter node, no pushed data filter
    assert "Filter (" not in plan


def test_subqueries_decorrelate_to_joins(spark, sf_dir):
    plan = explain_str(QUERIES["sql_exists_subquery"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS must decorrelate to an anti join"
    scalar = explain_str(QUERIES["sql_scalar_subquery"].fn(spark, sf_dir))
    assert "HashAggregate" in scalar and "Join" in scalar, (
        "scalar subquery must become aggregate + join, not per-row execution"
    )


def test_filter_pushdown_on_filter_plans(spark, sf_dir):
    plan = explain_str(QUERIES["filter_range"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan and "GreaterThan" in plan or "IsNotNull" in plan


def test_stratified_sample_prunes_and_never_shuffles(spark, sf_dir):
    plan = explain_str(QUERIES["sample_stratified"].fn(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan
    assert "Exchange" not in plan, "per-stratum hash sample must stay scan+filter"


def test_range_frame_window_is_one_shuffle(spark, sf_dir):
    plan = explain_str(QUERIES["window_range_frame"].fn(spark, sf_dir))
    assert "RangeFrame" in plan, "frame must be RANGE (time), not ROWS"
    # formatted mode puts the partitioning on the Exchange's Arguments line
    assert plan.count("hashpartitioning(user_id") == 1, (
        "rolling window = exactly one shuffle on the partition key"
    )


def test_sessionize_single_exchange(spark, sf_dir):
    # lag window + running-sum window + final groupBy all cluster on
    # user_id: EnsureRequirements must satisfy the aggregate's
    # ClusteredDistribution from the window's hash(user_id) partitioning
    # instead of inserting a second shuffle on (user_id, session_seq).
    plan = explain_str(QUERIES["events_sessionize"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, (
        "sessionization must be one shuffle end-to-end"
    )


def test_first_last_window_unbounded_frame_one_shuffle(spark, sf_dir):
    plan = explain_str(QUERIES["window_first_last"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "unboundedfollowing" in plan.lower(), (
        "first/last/nth must use the full-partition frame, not a self-join"
    )


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    # At 100 TB a selective dim-side filter should prune fact-side shuffle
    # input BEFORE the join: Spark's InjectRuntimeFilter builds a bloom
    # filter from the filtered creation side and applies might_contain()
    # on the application side. The rule is pure SQL-conf driven (no Scala
    # API needed). Conf deltas vs defaults, because sf0.01 is tiny:
    # application-side scan threshold drops to 0 (default 10 GB would
    # veto), and creationSideThreshold is RAISED to 10GB so the rule
    # keeps firing even if the filtered creation side misestimates high.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, "creation side must build the bloom filter"
        assert "might_contain" in plan, "application side must probe it pre-shuffle"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffled_hash_join_steerable(spark, sf_dir):
    # Sort-merge is Spark's safe default (both sides spill-able), but for
    # size-asymmetric big-big joins a shuffled hash join skips BOTH sort
    # passes — at 100 TB that's the difference between 2 sorts of the
    # fact table and none. The hint must actually steer the planner.
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        plan = (
            li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # and without the hint, the default stays sort-merge
        plan2 = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_observe_collects_qa_metrics_in_flight(spark, sf_dir):
    # The reference's QA is a SECOND pass over loaded data (row-count
    # reconciliation, readme.md:140-145). df.observe() collects the same
    # metrics DURING the main job — at 100 TB that's one scan, not two.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("load_qa")
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = src.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").isNull().cast("int")).alias("null_acctbal"),
        # DISTINCT aggregates are disallowed in observed metrics -> HLL
        F.approx_count_distinct("c_nationkey").alias("n_nations"),
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_rows"] == src.count()
    assert m["null_acctbal"] == 0
    exact_nations = src.select("c_nationkey").distinct().count()
    assert abs(m["n_nations"] - exact_nations) / exact_nations < 0.1


def test_bitmap_distinct_avoids_expand(spark, sf_dir):
    """agg_bitmap_distinct exists to replace COUNT(DISTINCT)'s Expand +
    raw-value double shuffle: the plan must carry bitmaps through
    partial aggregation and contain no Expand node, while the naive
    count(distinct) plan over the same input does."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table as cat_table

    plan = explain_str(QUERIES["agg_bitmap_distinct"].fn(spark, sf_dir))
    assert "Expand" not in plan
    assert "partial_bitmap_construct_agg" in plan, "bitmap agg must combine map-side"

    naive = (
        cat_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey"))
    )
    assert "Expand" in explain_str(naive) or "partial_count(distinct" in explain_str(
        naive
    ), "baseline shape changed — revisit the docstring claim"


def test_orc_scan_pushes_filters(spark, sf_dir):
    """The ORC reader must accept predicate pushdown like parquet — the
    format swap may not cost the scan-side optimizations."""
    from etl_cnpjs_spark.plans.io import _stage_orc

    path = _stage_orc(spark, sf_dir)
    df = spark.read.orc(path).filter("doc_id < 10").select("doc_id", "lang")
    plan = explain_str(df)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10)" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, (
        "column pruning must reach the ORC scan"
    )


def test_tfidf_broadcasts_idf(spark, sf_dir):
    """The IDF table is vocabulary-sized — it must come back to the
    postings as a broadcast join, never a shuffle of the postings on
    token."""
    plan = explain_str(QUERIES["text_tfidf"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "IDF join must broadcast"


def test_retention_collapses_events_before_shuffle(spark, sf_dir):
    """distinct (user, day) must aggregate map-side (partial) so raw
    events never cross the wire."""
    plan = explain_str(QUERIES["events_retention"].fn(spark, sf_dir))
    assert "partial_" in plan, "distinct collapse must combine map-side"


def test_incremental_dedup_joins_on_band_key(spark, sf_dir):
    """Candidates must come from the (band, key) equi-join — the plan
    carries a hash join keyed on band/key, not any cross/theta join."""
    plan = explain_str(QUERIES["dedup_incremental"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "key" in plan


def test_mix_sampling_is_scan_side(spark, sf_dir):
    """Mixture sampling must be a pure scan-side filter — no shuffle, and
    the scan reads only the three projected columns."""
    plan = explain_str(QUERIES["sample_weighted_mix"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" in plan


def test_pack_sequences_single_exchange(spark, sf_dir):
    """The packing groupBy must reuse the running-sum window's hash(lang)
    partitioning instead of inserting a second shuffle."""
    plan = explain_str(QUERIES["doc_pack_sequences"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram side is small by construction — it must
    broadcast so corpus rows are screened scan-side, never shuffled into
    a sort-merge join."""
    plan = explain_str(QUERIES["text_decontaminate"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anomaly_broadcasts_moments_no_window(spark, sf_dir):
    """The per-user moment table must come back to events as a broadcast
    join; the screen must not window-sort the fact table."""
    plan = explain_str(QUERIES["events_anomaly"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, (
        "one shuffle: the partial-aggregated per-user moments"
    )


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    """Q1's date filter must reach the parquet scan and all eight
    measures must partial-aggregate map-side before the one exchange."""
    plan = explain_str(QUERIES["tpch_q1"].fn(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan, "date filter must be pushed"
    assert "partial_" in plan, "measures must combine map-side"
    simple = explain_str(QUERIES["tpch_q1"].fn(spark, sf_dir), "simple")
    assert simple.count("Exchange hashpartitioning") == 1, (
        "one hash shuffle for the aggregate (the final ORDER BY adds its "
        "own range exchange over six rows)"
    )


def test_catalog_normalizes_every_timestamp(spark, sf_dir):
    """The driver regenerates testdata between rounds and has shipped
    both INT64-nanos and naive-µs (TIMESTAMP_NTZ) encodings; every
    catalog table must come back with plain session-tz TIMESTAMP
    columns so plans never meet an NTZ/timestamp analysis mismatch."""
    import os

    from etl_cnpjs_spark.catalog import TESTDATA_TABLES, table, table_path

    for name in TESTDATA_TABLES:
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        bad = [c for c, t in table(spark, sf_dir, name).dtypes if "ntz" in t or t == "bigint" and c == "ts"]
        assert not bad, f"{name}: unnormalized timestamp columns {bad}"


def test_training_set_shuffles_flags_only(spark, sf_dir):
    """The composite shuffles at most the documented four exchanges (fp
    window, doc_id anti-join's two sides, lang packing) — an upper
    bound, not an exact count, so a Spark/AQE planning change that
    merges exchanges doesn't fail the test (ADVICE r2); the invariant
    that matters is below: no exchange ever carries the text column."""
    plan = explain_str(QUERIES["corpus_training_set"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "BroadcastHashJoin" in plan, "benchmark n-grams must broadcast"
    # the shuffled PAYLOAD must be flags, not text: in formatted mode each
    # Exchange node lists its Input columns — none may carry the text col
    fmt = explain_str(QUERIES["corpus_training_set"].fn(spark, sf_dir))
    import re

    ex_ids = re.findall(r"\((\d+)\) Exchange", fmt)
    assert ex_ids, "formatted plan must show Exchange nodes"
    for node_id in ex_ids:
        m = re.search(
            rf"\({node_id}\) Exchange\n(?:.*\n)*?Input \[\d+\]: \[([^\]]*)\]", fmt
        )
        if m:
            assert "text#" not in m.group(1), (
                f"document text shuffled through Exchange ({node_id})"
            )


def test_derived_partsupp_is_scan_side(spark, sf_dir):
    """The derived partsupp (tpch.py banner) must be generated scan-side:
    part × explode(4) with the supplier count as a broadcast 1-row
    frame — NO hash exchange anywhere in its plan. If a refactor turns
    the count into a shuffle or the explode into a join, the 9
    derived-input TPC-H queries inherit an extra exchange each."""
    from etl_cnpjs_spark.plans.tpch import _partsupp

    plan = explain_str(_partsupp(spark, sf_dir), "simple")
    assert "Exchange hashpartitioning" not in plan


def test_tpch_q9_one_data_shuffle(spark, sf_dir):
    """Q9's fact spine should shuffle at most twice (join spine +
    group); every dimension side (part filtered, supplier, nation,
    derived partsupp, orders under AQE at this SF) broadcasts."""
    plan = explain_str(QUERIES["tpch_q9"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("BroadcastHashJoin") >= 4


def test_tpch_q17_decorrelated_avg_broadcasts(spark, sf_dir):
    """Q17's correlated per-part AVG subquery must run as ONE aggregate
    broadcast-joined back to lineitem (not a per-row subquery re-scan):
    a single group shuffle for the avg, every join broadcast."""
    plan = explain_str(QUERIES["tpch_q17"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_tpch_q21_no_exists_probe_joins(spark, sf_dir):
    """Q21 replaces the spec's per-row EXISTS/NOT EXISTS lineitem
    self-probes with one order-grain aggregate over lineitem — the plan
    must stay broadcast-joined with no sort-merge self-join of the fact
    table and at most the aggregate's own shuffles."""
    plan = explain_str(QUERIES["tpch_q21"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("BroadcastHashJoin") >= 3


def test_stopshingle_df_filter_shares_posting_shuffle(spark, sf_dir):
    """The stop-shingle df cap computes as a count window over hash(s) —
    the SAME partitioning the candidate self-join needs — not as a
    groupBy + re-join (which would shuffle the exploded posting list by
    shingle twice). r11 bound-verify shape: the plan is a UNION of the
    count-exact branch and the array-verify fallback, so identical
    subtrees (kept postings, candidate aggregate) repeat statically —
    ceiling pinned at 14 hash exchanges (plan_audit's adjudication) —
    and the EXECUTED AQE plan must dedupe them. Invariant kept LOOSE on
    purpose (r11 ADVICE low #3): exact ReusedExchange/stage counts are
    Spark-version- and AQE-config-sensitive, so assert only that reuse
    HAPPENS and executed shuffle stages land strictly below the
    14-exchange static ceiling — a real regression (reuse lost, the
    repeated subtrees re-shuffled) still fails, an engine upgrade does
    not. r13 (ADVICE r12 low #3): the all-the-way-loose bound (< 14
    with one surviving reuse) would also have passed a 6→13-stage
    degradation — tightened to a MID bound, executed stages <= 9:
    ~50% headroom over the observed value for version drift, while a
    gross reuse loss (each repeated subtree re-shuffling) still fails.
    (For the record: 6 reuses + 6 stages on Spark 4.1.2, 2026-08-16.)"""
    df = QUERIES["dedup_stopshingle"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning") <= 14
    assert "Union" in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "AQE must dedupe the repeated subtrees"
    assert final.count("ShuffleQueryStage") <= 9, final[:800]


def test_interval_overlap_join_is_not_cartesian(spark, sf_dir):
    """The no-equi-key interval overlap join must plan as a bin
    equi-join (hash/sort-merge) with the overlap predicate as residual —
    never a nested-loop cross product, which is what Spark does with a
    raw interval-intersection condition."""
    plan = explain_str(QUERIES["join_interval_overlap"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_exchange_shared_by_both_windows(spark, sf_dir):
    """The SCD2 build's lag (no-change suppression) and lead (valid_to)
    windows share one (key) partitioning and one eff_ts sort — the whole
    history build must be a single feed-sized exchange + sort, never a
    feed self-join or a second shuffle for the second window."""
    plan = explain_str(QUERIES["cdc_scd2"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


def test_mm_resize_scan_side_no_shuffle(spark, sf_dir):
    """The resize UDF runs at the scan: image bytes (and thumbnails)
    must never enter an exchange — only the integer feature row exists
    at the plan boundary."""
    plan = explain_str(QUERIES["mm_resize"].fn(spark, sf_dir), "simple")
    assert "Exchange hashpartitioning" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_url_canonical_single_map_combined_exchange(spark, sf_dir):
    """URL canonicalization is scan-side string work; the only shuffle
    is the canonical-url groupBy with a map-side partial aggregate."""
    plan = explain_str(QUERIES["dedup_url_canonical"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_" in plan


def test_embedding_gram_shuffles_partials_not_vectors(spark, sf_dir):
    """The Gram build's only exchange carries (i, j, s) integer partials
    — the embedding vectors themselves must never shuffle."""
    plan = explain_str(QUERIES["embedding_gram"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and "embedding" not in ex[0] and "v#" not in ex[0]


def test_point_in_interval_join_is_not_cartesian_and_point_never_explodes(spark, sf_dir):
    """The point-in-range lookup must plan as a bin equi-join (the point
    side contributes a single computed bin — no Generate/explode on that
    branch), never a nested-loop product."""
    plan = explain_str(QUERIES["join_point_in_interval"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly ONE Generate (the interval side's bin explode); the point
    # side must not add a second
    assert plan.count("Generate explode") == 1, plan


def test_stream_interval_join_is_not_cartesian(spark, sf_dir):
    """The range-only (keyless) stream join gets its synthetic
    time-bucket equi key: bucket equality must carry the join."""
    plan = explain_str(QUERIES["stream_interval_join"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_snapshot_adds_no_exchange_over_scd2(spark, sf_dir):
    """The AS-OF snapshot is a residual filter over the SCD2 build: the
    snapshot plan must contain no MORE exchanges than cdc_scd2 itself."""
    scd2 = explain_str(QUERIES["cdc_scd2"].fn(spark, sf_dir), "simple")
    snap = explain_str(QUERIES["cdc_snapshot_at"].fn(spark, sf_dir), "simple")
    assert snap.count("Exchange") <= scd2.count("Exchange")


def test_countmin_shuffle_is_partial_aggregated(spark, sf_dir):
    """The CMS build must partial-aggregate (map-side combine) before its
    single exchange, so the shuffle carries ≤ depth·width cells per task
    regardless of input size."""
    plan = explain_str(QUERIES["agg_countmin"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial_count before the exchange in the simple plan string
    assert "partial_count" in plan, plan


def test_sample_reservoir_is_take_ordered_not_global_sort(spark, sf_dir):
    """The hash-rank k-sample must execute as TakeOrderedAndProject
    (per-partition local top-k + k-row merge) — never a full global
    Sort with a single-partition exchange."""
    plan = explain_str(QUERIES["sample_reservoir"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_containment_single_posting_exchange(spark, sf_dir):
    """Directed containment must reuse jaccard's single posting-shuffle
    envelope: the direction split is a post-aggregate union, never a
    second posting self-join."""
    plan = explain_str(QUERIES["dedup_containment"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    # posting join + pair aggregate + size join: bounded exchange count
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_rolling_distinct_collapses_before_explode(spark, sf_dir):
    """events_rolling_distinct: the contribution explode must sit ABOVE
    the day-grain distinct (one event-grain exchange), and the calendar
    join must broadcast — day-grain work only after the collapse."""
    plan = explain_str(QUERIES["events_rolling_distinct"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """Oriented 2-path + close joins are equi-joins on node keys."""
    plan = explain_str(QUERIES["graph_triangle_count"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_countmin_merge_partial_aggregated(spark, sf_dir):
    """Both CMS derivations must map-side combine before their exchanges
    (the shuffle stays cell-grain however big the events input)."""
    plan = explain_str(QUERIES["agg_countmin_merge"].fn(spark, sf_dir), "simple")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan


def test_linreg_single_partial_aggregated_exchange(spark, sf_dir):
    """The OLS fit must reduce to ONE map-side-combined aggregation:
    partial sums before a single exchange, no window, no join — the
    property that makes the shuffle |groups|-sized at any input scale."""
    plan = explain_str(QUERIES["agg_linreg"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan


def test_downsample_bucket_windows_share_partition_keys(spark, sf_dir):
    """Both extreme-point windows sort inside the same (series, bucket)
    exchange; per union branch that is one hash exchange — never a
    range/global sort."""
    plan = explain_str(QUERIES["events_downsample_bucket"].fn(spark, sf_dir), "simple")
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Window" in plan, plan


def test_common_neighbors_topk_no_cartesian(spark, sf_dir):
    """2-path link prediction: equi-joins only, and the final top-k is
    TakeOrderedAndProject (local top-k + merge), not a global sort."""
    plan = explain_str(QUERIES["graph_common_neighbors"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_corr_matrix_single_partial_aggregated_exchange(spark, sf_dir):
    """All 15 sufficient statistics ride one map-side-combined global
    aggregate — a single-row exchange at any input size."""
    plan = explain_str(QUERIES["agg_corr_matrix"].fn(spark, sf_dir), "simple")
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    # global agg: SinglePartition exchange only — no hash repartition
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_asof_nearest_is_union_window_not_join(spark, sf_dir):
    """The nearest-direction as-of must run as the union-tag window
    program: no join operator at all, and at most two exchanges (the
    same-ts purchase dedup on (user, ts), then the user_id window both
    directions share)."""
    plan = explain_str(QUERIES["join_asof_nearest"].fn(spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_gap_detect_minimal_window_envelope(spark, sf_dir):
    """One exchange on user_id, one sort, one lag — nothing else."""
    plan = explain_str(QUERIES["events_gap_detect"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_diversity_two_stacked_partial_aggregates(spark, sf_dir):
    """Gini–Simpson: two map-side-combined aggregates, no window/join;
    the second exchange is |cohorts|-sized at any input scale."""
    plan = explain_str(QUERIES["agg_diversity"].fn(spark, sf_dir), "simple")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_forecast_eval_hour_grain_after_first_aggregate(spark, sf_dir):
    """Everything past the hourly rollup is hour-grain: partial-agg
    before the first exchange, no window over raw events, bounded
    exchange count for rollup + self-join + metric rollup."""
    plan = explain_str(QUERIES["events_forecast_eval"].fn(spark, sf_dir), "simple")
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_collation_aggregate_shape_is_sort_based(spark, sf_dir):
    """Pin the measured Spark 4.1 behavior: collated grouping keys fall
    back to SortAggregate (not hash-aggregable) — the documented
    "collation tax". If a Spark upgrade starts hash-aggregating collated
    keys, this flips and the docstring's guidance should be revisited."""
    plan = explain_str(QUERIES["fn_collation"].fn(spark, sf_dir), "simple")
    assert "SortAggregate" in plan, plan
    assert "Join" not in plan, plan


def test_except_all_is_counted_aggregate_not_cartesian(spark, sf_dir):
    """Bag-semantics set ops must plan as the counted-multiplicity
    aggregate (sum/generate), never a nested-loop or cartesian shape."""
    for key in ("set_except_all", "set_intersect_all"):
        plan = explain_str(QUERIES[key].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "Generate" in plan or "HashAggregate" in plan, plan


def test_markov_transitions_alphabet_sized_after_lag(spark, sf_dir):
    """Past the user-keyed lag window everything is |types|²-sized: the
    pair rollup partial-aggregates and the row-total join broadcasts."""
    plan = explain_str(QUERIES["events_markov_transitions"].fn(spark, sf_dir), "simple")
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_interpolate_shares_resample_envelope(spark, sf_dir):
    """Both direction passes ride the one user-keyed window exchange —
    same envelope as events_resample (grid explode + hour-grain agg) —
    and NO [current, unbounded following) frame appears: that frame is
    quadratic in Spark (re-scans to partition end per row; measured 7×
    at sf0.1), so the forward pass must stay a reversed running frame."""
    plan = explain_str(QUERIES["events_interpolate_linear"].fn(spark, sf_dir), "simple")
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "unboundedfollowing$())" not in plan.lower().replace(" ", ""), plan


def test_temperature_mix_is_scan_side_with_broadcast_rates(spark, sf_dir):
    """The derived rate table must broadcast onto the corpus scan — the
    only exchanges are the tiny |langs| count aggregate's, never a
    shuffle of documents."""
    plan = explain_str(QUERIES["sample_temperature_mix"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_spatial_grid_is_cell_equijoin(spark, sf_dir):
    """The radius join must meet on the (jx, jy) cell keys — an
    equi-join, never a cartesian/BNLJ all-pairs product."""
    plan = explain_str(QUERIES["join_spatial_grid"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cooccurrence_single_basket_exchange(spark, sf_dir):
    """Pair generation must come from the per-user array expansion —
    one (user, type) dedup exchange feeds everything; no self-join of
    the basket table on user_id (which would re-shuffle it twice)."""
    plan = explain_str(QUERIES["agg_cooccurrence"].fn(spark, sf_dir), "simple")
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_prefilter_three_broadcast_semis(spark, sf_dir):
    """join_bloom_prefilter's plan must show the runtime-filter shape:
    one broadcast semi-join per hash function pruning the fact side,
    then the exact broadcast join — and the fact side must never
    sort-merge."""
    plan = explain_str(QUERIES["join_bloom_prefilter"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin LeftSemi") == 3, plan[:500]
    assert "BroadcastHashJoin Inner" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_repeat_is_shuffle_free(spark, sf_dir):
    """sample_epoch_repeat's fan-out is a pure narrow transform: the
    derived repeat factor explodes scan-side with NO exchange."""
    plan = explain_str(QUERIES["sample_epoch_repeat"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_concurrency_two_level_scan_shape(spark, sf_dir):
    """events_concurrency must run the big window PARTITIONED (by day)
    and join the day carry-ins by broadcast — the two-level prefix sum;
    a single global-order window over the full point set would show an
    Exchange SinglePartition feeding the big Window instead."""
    plan = explain_str(QUERIES["events_concurrency"].fn(spark, sf_dir))
    assert plan.count("Window") >= 2
    assert "BroadcastHashJoin" in plan
    # the day-local running sum partitions by the derived day key
    assert "date_trunc(day" in plan.lower() or "date_trunc('day'" in plan.lower() \
        or "partitionBy" not in plan  # formatted plans inline the spec


def test_rolling_median_single_window_exchange(spark, sf_dir):
    """window_rolling_median: one hash(event_type) exchange serves the
    percentile-over-frame window; no second shuffle."""
    plan = explain_str(QUERIES["window_rolling_median"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_haversine_is_shuffle_free_narrow_map(spark, sf_dir):
    """fn_geo_haversine: pure scan-side math — no exchange anywhere, and
    the single-column read schema proves pruning."""
    plan = explain_str(QUERIES["fn_geo_haversine"].fn(spark, sf_dir))
    assert "Exchange" not in plan, "haversine must not shuffle"
    assert "ReadSchema: struct<c_custkey:bigint>" in plan


def test_outlier_iqr_second_pass_broadcasts_bounds(spark, sf_dir):
    """dq_outlier_iqr / agg_winsorized_mean: the tiny percentile frame
    broadcasts; the big side is never exchanged for the join."""
    for key in ("dq_outlier_iqr", "agg_winsorized_mean"):
        plan = explain_str(QUERIES[key].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{key}: bounds must broadcast"
        assert "SortMergeJoin" not in plan, f"{key}: no big-big join"


def test_ks_test_single_value_grid_exchange(spark, sf_dir):
    """events_ks_test: the raw scan is collapsed by one partial-combined
    (event_type, value) aggregate before any window work."""
    plan = explain_str(QUERIES["events_ks_test"].fn(spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, (
        "grid agg + window partitioning only"
    )


def test_hashing_tf_one_aggregate_no_join(spark, sf_dir):
    """text_hashing_tf: vectorization is explode + ONE aggregate — no
    vocabulary join, no broadcast state."""
    plan = explain_str(QUERIES["text_hashing_tf"].fn(spark, sf_dir))
    assert "Join" not in plan, "feature hashing must not build a vocab join"
    assert "partial_count" in plan, "tf counts must combine map-side"


def test_seasonality_single_exchange_then_window(spark, sf_dir):
    """events_seasonality: one partial-combined cell aggregate; the
    window total runs on the 168-cell frame, not the scan."""
    plan = explain_str(QUERIES["events_seasonality"].fn(spark, sf_dir))
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_dau_mau_grid_broadcasts_not_shuffles(spark, sf_dir):
    """events_dau_mau: the day grid joins the distinct frame via
    broadcast nested loop (range condition) — the big side is never
    exchanged for the grid join."""
    plan = explain_str(QUERIES["events_dau_mau"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, "day grid must broadcast"


def test_keywords_idf_broadcasts(spark, sf_dir):
    """text_keywords: the vocab-sized idf frame broadcasts; no big-big
    join anywhere in the keyword plan."""
    plan = explain_str(QUERIES["text_keywords"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_delete_vectors_anti_join_broadcasts(spark, sf_dir):
    """scan_delete_vectors: the delete set applies as a BROADCAST anti
    join and the base scan keeps its projection (no rewrite)."""
    plan = explain_str(QUERIES["scan_delete_vectors"].fn(spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan, "base must not shuffle"


def test_view_maintenance_touch_frame_broadcasts(spark, sf_dir):
    """agg_view_maintenance: the collapsed feed joins the base via
    broadcast — the base table is never shuffled for the touch join."""
    plan = explain_str(QUERIES["agg_view_maintenance"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


# --- round-6 session-3 families ---------------------------------------------


def test_interval_merge_single_user_exchange(spark, sf_dir):
    """events_interval_merge: both window passes (running max(end),
    island numbering) and the island groupBy share ONE user_id
    exchange — same key, same ordering, one sort."""
    plan = explain_str(QUERIES["events_interval_merge"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "SortMergeJoin" not in plan


def test_ewma_fold_is_codegen_not_udf(spark, sf_dir):
    """window_ewma: the EWMA fold is a higher-order aggregate()
    expression (JVM codegen), never a Python UDF, and the whole plan
    rides one event_type exchange."""
    plan = explain_str(QUERIES["window_ewma"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "Python" not in plan, "fold must stay JVM-side"


def test_bitmap_words_two_level_combine(spark, sf_dir):
    """agg_bitmap_words: stage-1 bit_or must combine map-side
    (partial_bit_or) before its exchange; stage 2 is a popcount sum
    over the 32x-smaller word frame — exactly two exchanges."""
    plan = explain_str(QUERIES["agg_bitmap_words"].fn(spark, sf_dir), "simple")
    assert "partial_bit_or" in plan, "bitmap OR must combine map-side"
    assert plan.count("Exchange hashpartitioning") == 2, plan[:800]


def test_random_projection_shuffle_free(spark, sf_dir):
    """sim_random_projection: a pure per-row map — zero exchanges,
    zero joins; the sign matrix lives in the expressions."""
    plan = explain_str(QUERIES["sim_random_projection"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan


def test_burstiness_single_user_exchange(spark, sf_dir):
    """events_burstiness: the lag window and the gap-moment aggregate
    share one user_id exchange."""
    plan = explain_str(QUERIES["events_burstiness"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]


def test_novelty_linear_no_pair_join(spark, sf_dir):
    """text_novelty: the non-quadratic shingle key — first-occurrence
    frame joins back via BROADCAST (node-count sized), and there is
    no posting self-join anywhere (that's the pair keys' shape)."""
    plan = explain_str(QUERIES["text_novelty"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:800]


def test_adamic_adar_broadcast_weights_topk(spark, sf_dir):
    """graph_adamic_adar: degree weights broadcast onto the 2-path
    join; the final top-100 is TakeOrderedAndProject, never a global
    sort materialization."""
    plan = explain_str(QUERIES["graph_adamic_adar"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_freshness_metadata_shaped_aggregate(spark, sf_dir):
    """dq_freshness: one map-side-combined groupBy over event_type and
    a broadcast watermark — no sort, no wide join."""
    plan = explain_str(QUERIES["dq_freshness"].fn(spark, sf_dir), "simple")
    assert "partial_max" in plan or "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_fanout_combines_map_side(spark, sf_dir):
    """agg_bootstrap_ci: the ×32 replicate explode happens scan-side
    (Generate) and replicate sums combine map-side (partial_sum)
    before the one (type, rep) exchange; the point-estimate join is
    broadcast, never sort-merge."""
    plan = explain_str(QUERIES["agg_bootstrap_ci"].fn(spark, sf_dir), "simple")
    assert "Generate" in plan
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_codebook_broadcasts(spark, sf_dir):
    """embedding_pq: the 4-row codebook joins via broadcast (nested
    loop — it's a crossJoin), and the subspace expansion is scan-side
    Generate; two exchanges total (argmin window + final rollup on
    the same vec key)."""
    plan = explain_str(QUERIES["embedding_pq"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Generate" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan[:800]


def test_bpe_pairs_takeordered_topk(spark, sf_dir):
    """text_bpe_pairs: alphabet²-bounded pair counts combine map-side
    on ONE exchange and the top-20 is TakeOrderedAndProject (no global
    sort materialization)."""
    plan = explain_str(QUERIES["text_bpe_pairs"].fn(spark, sf_dir), "simple")
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "TakeOrderedAndProject" in plan


def test_division_single_incidence_exchange(spark, sf_dir):
    """join_division: count-compare form — one incidence dedup, one
    user rollup, broadcast divisor; never |types| chained semi-joins."""
    plan = explain_str(QUERIES["join_division"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan, "divisor must broadcast"
    # incidence dedup + user rollup + the divisor's own distinct scan
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:800]


def test_dpp_reaches_fact_scan(spark, sf_dir):
    """join_partition_pruned: the fact scan's PartitionFilters must
    contain a dynamicpruningexpression — runtime partition pruning
    from the broadcast dim, the 100 TB star-join contract."""
    plan = explain_str(QUERIES["join_partition_pruned"].fn(spark, sf_dir))
    assert "dynamicpruningexpression" in plan, "DPP must reach the scan"
    assert "BroadcastHashJoin" in plan


def test_arrow_udf_is_arrow_eval(spark, sf_dir):
    """udf_arrow_scalar must plan as ArrowEvalPython (Arrow-batched
    boundary), never the pickled BatchEvalPython, and stay
    shuffle-free."""
    plan = explain_str(QUERIES["udf_arrow_scalar"].fn(spark, sf_dir), "simple")
    assert "ArrowEvalPython" in plan, plan[:600]
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_lateness_profile_single_source_exchange(spark, sf_dir):
    """events_lateness_profile: the running-max window and bucket
    rollup share the event_type exchange; totals broadcast back."""
    plan = explain_str(QUERIES["events_lateness_profile"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:800]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_counts_without_explode(spark, sf_dir):
    """corpus_token_budget: token counting must be size(split) per row
    — NO Generate node (tokens are never materialized)."""
    plan = explain_str(QUERIES["corpus_token_budget"].fn(spark, sf_dir), "simple")
    assert "Generate" not in plan, "token counting must not explode"


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """text_vocab_coverage: the 100-row vocab joins back via broadcast
    — the big token frame is never re-shuffled for the membership
    join."""
    plan = explain_str(QUERIES["text_vocab_coverage"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_gazetteer_broadcasts_dictionary(spark, sf_dir):
    plan = explain_str(QUERIES["text_gazetteer_match"].fn(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_dup_matrix_broadcasts_doc_dims(spark, sf_dir):
    """corpus_dup_matrix: both endpoint dimension joins broadcast."""
    plan = explain_str(QUERIES["corpus_dup_matrix"].fn(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:600]


def test_rate_smoothing_broadcasts_prior(spark, sf_dir):
    """agg_rate_smoothing: the global prior is a 1-row broadcast; the
    user frame is aggregated once."""
    plan = explain_str(QUERIES["agg_rate_smoothing"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:600]


def test_discretizer_labels_scan_side(spark, sf_dir):
    """fn_discretize_quantiles: cuts broadcast; the labeling pass adds
    no exchange of the fact table."""
    plan = explain_str(QUERIES["fn_discretize_quantiles"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:600]


def test_exact_substr_no_pair_join(spark, sf_dir):
    """text_exact_substr_spans: duplicated-gram detection is a count
    WINDOW over the gram key (no groupBy+rejoin, no pair self-join) —
    the plan must contain zero joins of any kind, and exactly the two
    natural-key exchanges (gram, doc)."""
    plan = explain_str(QUERIES["text_exact_substr_spans"].fn(spark, sf_dir), "simple")
    assert "Join" not in plan, plan[:800]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:800]


def test_target_encode_single_category_exchange(spark, sf_dir):
    """agg_target_encode: both window aggregates ride ONE category
    exchange; the LOO arithmetic is scan-side (no join, no re-agg)."""
    plan = explain_str(QUERIES["agg_target_encode"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "Join" not in plan, plan[:800]


def test_did_midpoint_broadcasts(spark, sf_dir):
    """events_did: the corpus midpoint is a broadcast 1-row frame (the
    scalar shape), never a driver collect; cells fold in one grouped
    aggregate."""
    plan = explain_str(QUERIES["events_did"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cuped_user_grain_single_pass(spark, sf_dir):
    """agg_cuped: pre and post fold in ONE conditional aggregate over
    the user grain — no pre/post self-join of the fact table."""
    plan = explain_str(QUERIES["agg_cuped"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan, plan[:800]
    # one user-keyed exchange + tiny rollup exchanges only
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:800]


def test_mann_kendall_pairs_on_daily_frame(spark, sf_dir):
    """agg_mann_kendall: the quadratic pair join runs on the DAILY
    aggregate (bounded by calendar), with the raw scan aggregated
    before any join; one side broadcasts."""
    plan = explain_str(QUERIES["agg_mann_kendall"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_pipe_syntax_pushes_filter_to_scan(spark, sf_dir):
    """sql_pipe_syntax: the |> WHERE reaches the parquet scan as a
    pushed filter — pipe syntax is sugar over the same optimized plan."""
    plan = explain_str(QUERIES["sql_pipe_syntax"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split(
        "PushedFilters"
    )[1][:200], plan[:1200]


def test_cogrouped_map_single_cogroup_exchange(spark, sf_dir):
    """udf_cogrouped_map: the pandas cogroup appears as
    FlatMapCoGroupsInPandas with one user-keyed exchange per side."""
    plan = explain_str(QUERIES["udf_cogrouped_map"].fn(spark, sf_dir), "simple")
    assert "FlatMapCoGroupsInPandas" in plan, plan[:800]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:800]


def test_substr_clean_anti_join_no_pairs(spark, sf_dir):
    """corpus_substr_clean (r13 rework): the cut is a per-row
    higher-order filter against a doc-grain span array attached by ONE
    left join — the corpus is never exploded to token grain for the
    removal (the pre-r13 shape posexploded every token, anti-joined on
    (doc, pos) and re-grouped: two token-grain corpus shuffles). Pin:
    the span attach is a LeftOuter join, the removal lambda is present,
    no LeftAnti and no token-regroup collect_list over (pos, tok)."""
    plan = explain_str(QUERIES["corpus_substr_clean"].fn(spark, sf_dir), "simple")
    assert "LeftOuter" in plan, plan[:800]
    assert "lambdafunction" in plan, plan[:800]
    assert "LeftAnti" not in plan, plan[:800]
    assert "collect_list(struct(pos" not in plan, plan[:800]


def test_nested_parquet_prunes_and_pushes(spark, sf_dir):
    """scan_parquet_nested: the physical scan must read only the
    pruned nested leaves and push the nested-field comparison down."""
    plan = explain_str(QUERIES["scan_parquet_nested"].fn(spark, sf_dir))
    rs = plan.split("ReadSchema:")[1][:300]
    assert "clerk_bucket" in rs and "priority" in rs and "cents" in rs, rs
    pf = plan.split("PushedFilters:")[1][:200]
    assert "clerk_bucket" in pf, pf


def test_map_in_arrow_no_exchange(spark, sf_dir):
    """udf_map_in_arrow: the Arrow kernel runs inside the scan stage —
    zero exchanges, and the node is the Arrow-native map (not pandas)."""
    plan = explain_str(QUERIES["udf_map_in_arrow"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan, plan[:600]
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan[:600]


def test_corpus_ingest_incremental_shape(spark, sf_dir):
    """The crawl-ingest screen's scale promises pinned: no cartesian /
    nested-loop anywhere (candidates come from the banded posting
    equi-join), the hit frame re-enters through BROADCAST joins (the
    anti-join and the report join — hits are ≤|delta| rows, never a
    doc-grain shuffle side), and the probe itself is an equi-join."""
    plan = explain_str(QUERIES["corpus_ingest_incremental"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # anti-join + report join both broadcast the collapsed hit frame
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    ), plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_centroid_assignment_argmax(spark, tmp_path):
    """The r12 map-side argmax assignment (array_max over
    (cosine, -cid)) must make the IDENTICAL pick the oracle's
    ROW_NUMBER(ORDER BY cosine DESC, cid) makes — including exact
    cosine TIES, which this fixture forces: labels 1 and 2 hold the
    SAME vectors, so their centroids are identical and every vector's
    top-1 cosine ties across both; the rule must break to the smaller
    cid. Pinned as plan ≡ full DuckDB oracle on the dedup_semantic key
    (one of the four _label_centroid_assignment consumers), plus a
    direct shape assertion: no window/sort and no k-fold explosion in
    the assignment subtree."""
    import duckdb
    import pandas as pd

    from compare import assert_frames_match
    from etl_cnpjs_spark.plans import QUERIES

    rows = []
    vid = 0
    for lab in (1, 2):  # identical vector sets -> identical centroids
        for k in range(6):
            rows.append((vid, [float(k % 3), float((k + 1) % 3), 1.0], lab))
            vid += 1
    for k in range(4):  # a distinct third cluster
        rows.append((vid, [10.0 + k, 0.5, -3.0], 3))
        vid += 1
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    q = QUERIES["dedup_semantic"]
    got = q.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = con.execute(q.oracle).fetchdf()
    con.close()
    assert_frames_match(got, want, "dedup_semantic centroid-tie fixture")

    # shape: assignment is a map pass — no Window, no per-vector
    # k-row explosion feeding a sort
    from etl_cnpjs_spark.plans.similarity import _label_centroid_assignment, _vecs

    _, assign = _label_centroid_assignment(_vecs(spark, str(tmp_path)))
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:800]


def test_centroid_assignment_guard_fires_above_bound(spark, tmp_path):
    """r13 (ADVICE r12 low #2): _label_centroid_assignment collapses
    all k centroids into ONE broadcast row, a form bounded to small
    label alphabets — the execution-time assert_true guard must FAIL
    the job (naming the k-row alternative) when the centroid count
    exceeds _CENTROID_BROADCAST_MAX_K, instead of silently building an
    oversized row. Threshold patched to 2 against a 3-label fixture so
    the test stays tiny; the constant is read at plan-build time."""
    import pandas as pd
    import pytest

    import etl_cnpjs_spark.plans.similarity as sim

    rows = []
    for lab in (1, 2, 3):
        for k in range(3):
            rows.append((lab * 10 + k, [float(k), 1.0, float(lab)], lab))
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    orig = sim._CENTROID_BROADCAST_MAX_K
    sim._CENTROID_BROADCAST_MAX_K = 2
    try:
        _, assign = sim._label_centroid_assignment(
            sim._vecs(spark, str(tmp_path))
        )
        with pytest.raises(Exception, match="single-row broadcast bound"):
            assign.write.format("noop").mode("overwrite").save()
    finally:
        sim._CENTROID_BROADCAST_MAX_K = orig

    # and at the real threshold the same fixture passes untouched
    _, ok = sim._label_centroid_assignment(sim._vecs(spark, str(tmp_path)))
    assert ok.count() == len(rows)


def test_ivf_assignment_argmax_ties(spark, tmp_path):
    """sim_topk_ivf's r12 map-side argmax assignment under exact
    centroid ties: vec_ids 0 and 97 are both coarse centroids
    (vec_id % 97 == 0) and carry the SAME vector, so every vector's
    nearest-centroid cosine ties across cid 0 and 97 — the pick must
    break to cid 0, exactly as the oracle's ROW_NUMBER(ORDER BY cosine
    DESC, cid). Pinned plan ≡ DuckDB oracle, plus a Window-free
    assertion on the assignment subtree (the probe top-k keeps its
    tiny global window)."""
    import duckdb
    import pandas as pd

    from compare import assert_frames_match
    from etl_cnpjs_spark.plans import QUERIES

    rows = [(0, [1.0, 0.0, 0.0], 1), (97, [1.0, 0.0, 0.0], 1)]
    for k in range(1, 20):
        rows.append((k, [float(k % 5), float((k + 2) % 7), 1.0], 2))
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    q = QUERIES["sim_topk_ivf"]
    got = q.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = con.execute(q.oracle).fetchdf()
    con.close()
    assert_frames_match(got, want, "sim_topk_ivf centroid-tie fixture")
