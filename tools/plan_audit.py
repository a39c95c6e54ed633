"""Registry-wide physical-plan smell audit — the 100 TB hygiene check.

Builds every registered plan (no execution beyond staging some inputs)
and scans the physical plan string for the shapes that kill a large
cluster run:

- CartesianProduct              — an unbounded cross product
- BroadcastNestedLoopJoin       — OK only when one side is a scalar/
                                  tiny broadcast (scalar-subquery shape);
                                  listed so a human can adjudicate
- BatchEvalPython               — a row-at-a-time Python UDF on the hot
                                  path (Arrow paths show ArrowEvalPython /
                                  MapInPandas instead)
- high Exchange counts          — shuffle-discipline watchlist
- EAGER actions at build time   — any DataFrame.count/collect/first/
                                  take/toPandas/show/head fired while the
                                  plan FUNCTION runs (before the driver
                                  executes the returned frame): at 100 TB
                                  that is an extra full job + driver sync
                                  before the real query starts. Detected
                                  by intercepting the DataFrame action
                                  methods during construction (see
                                  record_eager); the only adjudicated
                                  sites are the iterative-CC convergence
                                  probe and the brute-force-oracle size
                                  guards (EAGER_OK_SITES).

tests/test_plans.py pins the per-key claims; this tool is the sweep that
finds NEW offenders before they earn a pin. Run:
    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# DataFrame methods that run a job and sync to the driver. localCheckpoint
# is deliberately NOT here: it is the adjudicated barrier primitive (plan
# bodies use it to cut twice-consumed lineage), and writes are the sink
# keys' staged inputs — both materialize by design.
EAGER_ACTIONS = (
    "count",
    "collect",
    "first",
    "take",
    "toPandas",
    "show",
    "head",
    "isEmpty",
    "tail",
    "toLocalIterator",
    "foreach",
    "foreachPartition",
    "checkpoint",  # the RELIABLE checkpoint writes to the checkpoint dir
)

# Adjudicated eager call sites: (path suffix, enclosing function). Anything
# else firing an eager action during plan construction flags.
EAGER_OK_SITES = (
    # iterative star-contraction convergence probe — a legitimate driver
    # decision point, stride-gated (operators/graph.py docstring)
    ("operators/graph.py", "connected_components"),
    # brute-force oracle size guards: refuse O(n²) past max_rows with a
    # message naming the LSH/IVF scale twins
    ("operators/similarity.py", "all_pairs_cosine_blocked"),
    ("operators/similarity.py", "knn_join_blocked"),
    # executor-side INPUT STAGING for the binaryFile source (memoized
    # per session; the r1-verdict fix that moved it off the driver) —
    # the same materialize-by-design class as the sink keys' staged
    # writes, which go through .write and are not intercepted
    ("plans/extended.py", "_stage_bin_files"),
)


def _adjudicated(stack: list[traceback.FrameSummary]) -> bool:
    return any(
        f.filename.endswith(path) and f.name == fn
        for f in stack
        for path, fn in EAGER_OK_SITES
    )


_THIS_FILE = os.path.abspath(__file__)


def _df_classes():
    """Every DataFrame class whose methods a session might dispatch to.
    Spark 4's classic DataFrame SUBCLASSES pyspark.sql.DataFrame and
    redefines the action methods, so patching only the base class is
    silently shadowed — patch each class that defines the method itself."""
    classes = []
    from pyspark.sql import DataFrame as base

    classes.append(base)
    try:
        from pyspark.sql.classic.dataframe import DataFrame as classic

        classes.append(classic)
    except ImportError:
        pass
    return classes


@contextlib.contextmanager
def record_eager():
    """Intercept DataFrame eager actions; yields a list of
    (action, 'file:line') hits from un-adjudicated call sites. Used by
    main() around every plan build and by tests to seed violations."""
    hits: list[tuple[str, str]] = []
    originals: list[tuple[type, str, object]] = []

    def make(name, orig):
        def wrapper(self, *a, **kw):
            stack = traceback.extract_stack()[:-1]
            # ignore nested eager calls (head -> take) — record the
            # outermost interception only
            nested = any(
                os.path.abspath(f.filename) == _THIS_FILE and f.name == "wrapper"
                for f in stack
            )
            if not nested and not _adjudicated(stack):
                site = next(
                    (
                        f"{os.path.relpath(f.filename, REPO)}:{f.lineno}"
                        for f in reversed(stack)
                        if os.sep + "etl_cnpjs_spark" + os.sep in f.filename
                    ),
                    f"{stack[-1].filename}:{stack[-1].lineno}",
                )
                hits.append((name, site))
            return orig(self, *a, **kw)

        return wrapper

    for cls in _df_classes():
        for name in EAGER_ACTIONS:
            if name in cls.__dict__:
                orig = cls.__dict__[name]
                originals.append((cls, name, orig))
                setattr(cls, name, make(name, orig))
    try:
        yield hits
    finally:
        for cls, name, orig in originals:
            setattr(cls, name, orig)

# BNLJ appearances that are the CORRECT scalar/tiny-broadcast shape,
# adjudicated by reading the plan: scalar thresholds (tpch_q11/q22),
# per-part minima (q2/q9/q16/q20), broadcast query vectors (sim_*,
# dedup_embedding_cosine), the deliberate cross join, z-order bounds,
# and sketch scalar joins.
BNLJ_OK = {
    "join_cross", "tpch_q2", "tpch_q9", "tpch_q11", "tpch_q16",
    "tpch_q20", "tpch_q22", "agg_hll_sketch", "sim_topk",
    "sim_topk_ivf", "sim_topk_kmeans", "sim_topk_kmeans_trained", "sim_knn_join",
    "sim_recall_report",  # broadcast probe-set/centroid crossJoins (sim-family shape)
    "dedup_embedding_cosine", "layout_zorder", "text_tfidf",
    "dq_check",  # (rule, violations, checked) rows from 1-row stat frames
    "text_quality_classifier",  # broadcast 1-row model-weights frame (scalar shape)
    "sample_temperature_mix",  # broadcast 1-row n_min frame onto the rate table
    "corpus_build",  # same 1-row n_min scalar shape (mixture stage of the capstone)
    "dq_drift",  # broadcast 1-row window-totals frame onto |types| rows
    "agg_cooccurrence",  # broadcast 1-row user-total frame onto |types|² pairs
    # deliberate bounded brute-force TAIL: only points the 5×5 ring
    # could not certify (measured: 0-2 per corpus) cross the broadcast
    "join_spatial_knn",
    "agg_rfm",  # broadcast 1-row anchor-date frame onto the customer grain
    "events_ab_lift",  # 2-row variant table self-join (A↔B lift lookup)
    "agg_decay_sum",  # broadcast 1-row anchor-date frame onto the scan
    "sample_negative",  # broadcast 1-row item-count modulus onto the user list
    "agg_hhi",  # broadcast 1-row market-total frame onto |groups| rows
    "events_ab_ttest",  # 2-row per-variant moment frame self-pair (A↔B)
    "sample_balanced",  # broadcast 1-row min-class-size frame onto class rates
    "sim_maxsim",  # broadcast 5-row query token bag onto the scored frame
    "sim_topk_filtered",  # broadcast 1-row query vector (scalar shape)
    "events_dau_mau",  # broadcast day-grid frame (≤ |days| rows) onto actives
    "text_js_divergence",  # broadcast 1-row corpus-total frame onto the vocab
    "text_collocations_pmi",  # broadcast 1-row token-total frame (r7: replaced the eager collect)
    "text_keywords",  # broadcast 1-row n_docs frame (r8: replaced the eager count)
    "dq_freshness",  # broadcast 1-row watermark frame onto |types| rows
    "embedding_pq",  # broadcast 4-row codebook crossJoin (assignment shape)
    "events_did",  # broadcast 1-row corpus-midpoint frame onto the scan
    "agg_cuped",  # broadcast 1-row midpoint + 1-row pooled-stats frames
    "scan_jsonl_corrupt",  # broadcast 1-row quarantine-total frame
    "graph_modularity",  # broadcast 1-row edge-total m onto |components| rows
    "events_ab_srm",  # broadcast 1-row user-total frame onto 2 cohort rows
    "agg_rate_smoothing",  # broadcast 1-row global-prior frame onto users
    "corpus_token_budget",  # broadcast 1-row token-total onto the grid
    "agg_hill_tail_index",  # broadcast 1-row x_{k+1} order statistic onto top-k
    "fn_discretize_quantiles",  # broadcast 1-row quartile-cuts frame onto scan
    "sample_temporal_split",  # broadcast 1-row percentile-cutoff frame onto scan
    "agg_cramers_v",  # broadcast 1-row (n, r, c) totals frame onto the cells
}

# The one deliberate row-at-a-time Python path: the UDTF demonstration.
ROW_PY_OK = {"udtf_bigrams", "udtf_polymorphic"}  # UDTFs ARE the Python-row surface being demonstrated

# Exchange-watchlist adjudications (marginal plans read by hand): keys
# whose ≥6 static Exchange nodes are the intended shape, not a smell.
# Each maps to its adjudicated CEILING, not a blanket exemption — a
# refactor that grows the count past the reviewed number still flags
# (the same pinning discipline as tests/test_plans.py).
EXCHANGES_OK = {
    # 3 unrolled walk rounds x (frontier-key join + same-key min_by
    # groupBy — AQE reuses the join exchange for the aggregate at
    # runtime) = 6 static exchanges, fixed by _RW_STEPS, not by data.
    "graph_random_walk": 6,
    # r11 bound-verify rework (the stopshingle shape plus the directed
    # explode): the candidate aggregate and kept-postings subtrees
    # repeat across the exact/ambiguous union branches — 26 static, but
    # the executed AQE plan carries 6 ReusedExchange / 6 real shuffle
    # stages (verified 2026-08-16), so nothing recomputes; a checkpoint
    # barrier would materialize candidate-grain rows instead, the wrong
    # trade at 100 TB (same family as dedup_stopshingle below).
    "dedup_containment_capped": 26,
    # r11 bound-verify rework: the candidate aggregate (posting
    # self-join + groupBy count) appears in BOTH union branches (exact
    # path + ambiguous array-verify path) and the kept-postings subtree
    # feeds three consumers — 14 static, but the executed AQE plan
    # carries 6 ReusedExchange nodes (verified 2026-08-16: 6 shuffle
    # stages total at runtime), so nothing recomputes; a localCheckpoint
    # barrier would materialize the candidate-grain frame instead, the
    # wrong trade at 100 TB (same reasoning as graph_triangle_count).
    "dedup_stopshingle": 14,
    # capstone: exact window + CC-label join + survivor-restricted
    # containment + per-source report (shared frames pre-warmed below).
    "corpus_dedup_sweep": 14,
    # recall eval composite: 11 static = the centroid build pair
    # (label-pos partial agg + cid collect), the per-vector assignment
    # window, THREE qid-partitioned ranking windows (exact / probe-set /
    # IVF — each ranks a different frame, so no exchange is shareable by
    # construction), and the overlap join + report agg. Measured 1.9 s
    # isolated at sf0.1; the exact side is the documented sampled-probe
    # ground-truth cost.
    "sim_recall_report": 11,
    # staged funnel capstone: 6 static = ExactSubstr positional postings
    # (2, its registered shape) + LSH band-key shuffle + exact-verify
    # pair aggregate + CC star-contraction label join + the per-source
    # report aggregate; each stage's frame is localCheckpointed once
    # for its multiple consumers, so nothing recomputes.
    "corpus_dedup_funnel": 6,
    # 10 static exchanges = the oriented edge-set subtree appearing in all
    # three join branches. Interleaved A/B at sf0.1 (2026-08-14, reps=3):
    # plain 7.2/6.7/7.6 s vs localCheckpoint-barrier 7.6/7.8/7.6 s — the
    # 2-path join output (12.3 M triangles) dominates and the barrier
    # costs what the redundant distincts cost, so the plain form stays.
    # At cluster scale the edge frame would be persisted (docstring).
    "graph_triangle_count": 10,
    # 7 static = the basket-build exchange subtree appearing twice
    # (pairs + marginals branches — identical, AQE ReusedExchange at
    # runtime), the column-pruned user-total two-stage, and three
    # alphabet-sized rollup exchanges. The only full-data move is the
    # map-side-deduped (user, partial-set) shuffle.
    "agg_cooccurrence": 7,
    # r13 checkpoint-removal trade (VERDICT r13 "document, don't
    # revert"): dropping the per-round localCheckpoint at the
    # registered R=4 doubles the static edge subtree per peel round —
    # 81 static exchanges — but the EXECUTED AQE plan dedups them via
    # ReusedExchange and measured FASTER (2.82 → 2.46 s isolated, r13).
    # The ceiling is load-bearing: the r14 R-threshold sweep (SCALE.md
    # "Iterative lineage") shows the barrier-free form collapsing at
    # R=6 (12.7-19.8 s vs 2.5-3.3 s barriered), so any growth past
    # this reviewed count — i.e. anyone raising _KCORE_ROUNDS — must
    # re-add barriers every <= 2 rounds, and this flag fires to say so.
    "graph_kcore": 81,
    # Same oriented edge-set subtree family as graph_triangle_count:
    # the pairs frame feeds 2-path both sides, the anti-join, and the
    # degree rollup; AQE reuses the identical subtrees at runtime.
    "graph_jaccard": 6,
    # three-tier exact kNN: each tier has its own cell-join + rank
    # window; tiers 2-3 run on anti-joined stragglers (0-2 rows
    # measured), so their exchanges carry almost nothing at runtime.
    "join_spatial_knn": 7,
    # R unrolled frontier-expansion rounds, each one bounded frontier
    # exchange + visited-set anti join; static count scales with R (the
    # registered semantics), runtime frontiers are small and shrinking.
    "graph_bfs_bounded": 33,
    # pairs subtree feeds the oriented 2-path (both sides), the closing
    # semi-join, the 3-way corner union rollup, and the degree rollup;
    # identical subtrees reuse at runtime (AQE), same family as
    # graph_triangle_count's adjudication.
    "graph_clustering_coeff": 14,
    # component labels + pair frame feed per-component node/edge rollups
    # and the broadcast m join; the label/pair builds are memoized and
    # prewarmed, the rest is node-count-sized.
    "graph_modularity": 9,
    # contingency cells + two marginal rollups + the totals rollup and
    # final 1-row aggregate — every exchange carries ≤ |types|·2 rows.
    "agg_cramers_v": 7,
    # r8 end-to-end capstone (marginal plan, shared pair frame
    # prewarmed): survivor-edge anti-joins + CC label join + kept
    # attribute join + |langs| rate counts + the (lang, shard) pack
    # exchange + per-lang report rollups = 10 static; the doc-grain
    # moves are the CC label join and the one applyInPandas pack.
    "corpus_build": 10,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = SparkSession.builder.master("local[32]").getOrCreate()
    qs = entrymod.queries()

    # Build the session-memoized frames the dedup family shares BEFORE
    # auditing, so every key is audited on its MARGINAL plan — without
    # this, whichever key the registry order happens to put first carries
    # the whole shared build's exchanges in its plan string and the
    # audit's findings change when the presentation order rotates.
    # (bench.py stages the same frames as its stage_* infra entries.)
    try:
        from etl_cnpjs_spark.plans.dedup import (
            _doc_shingles,
            _exact_pairs,
            dedup_cluster,
        )

        _doc_shingles(spark, sf_dir)
        _exact_pairs(spark, sf_dir)
        dedup_cluster(spark, sf_dir)
    except Exception as ex:
        print(f"WARN shared-frame prewarm failed: {ex}")

    bad = 0
    for k, fn in qs.items():
        try:
            with record_eager() as eager_hits:
                df = fn(spark, sf_dir)
            p = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            print(f"ERROR {k}: {type(ex).__name__}: {ex}")
            bad += 1
            continue
        issues = []
        for action, site in eager_hits:
            issues.append(f"EAGER_{action.upper()}@{site}")
        if "CartesianProduct" in p:
            issues.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in p and k not in BNLJ_OK:
            issues.append("BNLJ(unadjudicated)")
        if "BatchEvalPython" in p and k not in ROW_PY_OK:
            issues.append("ROW_PYTHON_UDF")
        ne = p.count("Exchange hashpartitioning")
        if ne >= 6 and ne > EXCHANGES_OK.get(k, 5):
            issues.append(f"EXCHANGES={ne}")
        if issues:
            print(f"FLAG {k}: {', '.join(issues)}")
            bad += 1
    print(f"plan audit: {len(qs) - bad}/{len(qs)} clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
