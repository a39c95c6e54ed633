"""Benchmark runner — the driver's per-round feedback loop.

Runs every registered plan at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (learned from round 1, where the driver recorded only a
~2 KB window of stdout and the single 4 KB JSON line didn't parse):
- stdout carries exactly ONE compact JSON line — total wall seconds,
  failure count, and a curated headline-query subset — small enough
  (<1.5 KB) that any head/tail capture window contains the whole line.
- The full per-query timing map is written to BENCH_DETAIL.json next to
  this file (key "queries_full_file" points at it).

Timing attribution: every per-sf session stager (etl_cnpjs_spark/
staging.py — the frames the dedup family shares, the CNPJ env, staged
copies of tables) is built BEFORE the timed loop and reported as its own
infra entry ("stage_<name>"), so per-query numbers measure each plan's
own work and stay comparable across rounds regardless of registry-name
ordering.

Noise control (r2 verdict item #5): wall-clock on this box swings
3-10× between identical runs, so each query reports the MEDIAN of
$SPARK_GRAFT_BENCH_REPS runs (default 3; all reps recorded in
BENCH_DETAIL.json under "queries_reps", per-key max/median ratios under
"queries_noise", and a fleet-level noise summary {med, p90, max} in the
stdout line) — a 1.5× round-over-round delta on a median is signal, on
a single run it was noise. Pre-warm entries stay single-run: they time
one-off staging, and a re-run would measure the memo hit, not the
work.

Each query is fully materialized through the noop DataSourceV2 sink —
every operator executes, nothing collects to the driver (the 100 TB
posture: the "fetch" is a distributed write, never collect();
SURVEY.md §2.1 O17).

Failure records: BENCH_DETAIL.json carries {"status": ok|error|timeout,
"error": "<Class>: <first line>"} for every in-suite entry (key "status")
and every isolated subprocess (key "isolated_status"), so a -1 in the
timings names its cause. Every subprocess goes through run_json_child.

Codegen compile layer: BENCH_DETAIL.json key "codegen_compiles" holds,
per key, the classes Spark's codegen compiled during its timed reps.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_cnpjs_spark import staging  # noqa: E402
from etl_cnpjs_spark.plans import QUERIES  # noqa: E402
from etl_cnpjs_spark.session import codegen_compiles, get_spark  # noqa: E402

# The queries a reader of ONE line should see: flagship parity, TPC-H
# spine, the LLM-pipeline north stars, and the layout/streaming keys.
HEADLINE = [
    "flagship",
    "cnpj_flagship",
    "tpch_q3",
    "tpch_q5",
    "tpch_q10",
    "tpch_q18",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_cluster",
    "corpus_curate",
    "corpus_training_set",
    "corpus_ingest_incremental",
    "tpch_q1",
    "graph_pagerank",
    "sim_topk",
    "sim_topk_ivf",
    "sim_knn_join",
    "text_filter_pipeline",
    "stream_session",
    "events_sessionize",
    "join_bucketed",
    "layout_zorder",
    "agg_count_by",
    "window_rank",
]


def describe(exc: BaseException) -> str:
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"


def ok() -> dict:
    return {"status": "ok", "error": None}


def failed(exc: BaseException) -> dict:
    return {"status": "error", "error": describe(exc)}


def run_json_child(cmd: list[str], timeout: float) -> tuple[dict, object]:
    """Run cmd in a fresh process; return its record {status, error} and
    the JSON value of its last stdout line (None unless status is ok)."""
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired as exc:
        return {"status": "timeout", "error": describe(exc)}, None
    if out.returncode != 0:
        tail = (out.stderr.strip().splitlines() or [""])[-1]
        return failed(ChildProcessError(f"exit {out.returncode}: {tail}")), None
    try:
        return ok(), json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError) as exc:  # no line, or not JSON
        return failed(exc), None


def run_once(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    if df.isStreaming:
        raise ValueError("bench only runs batch plans")
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark("etl-cnpjs-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on the smallest SF so per-query numbers measure the
    # plan, not JIT compilation of whole-stage codegen.
    try:
        run_once(spark, QUERIES["flagship"].fn, "/root/testdata/sf0.001")
    except Exception:
        pass

    timings: dict[str, float] = {}
    status: dict[str, dict] = {}

    # Stage every per-sf input (staging.py: shingle/pair/label/banded
    # frames, the KMeans quantizer, the CNPJ env, staged copies of tables
    # in other formats) before the timed loop, one infra entry per
    # stager, so per-query numbers measure each plan's own work and stay
    # comparable across rounds regardless of registry-name ordering.
    for stager in staging.REGISTRY.values():
        if not stager.per_sf:
            continue
        entry = f"stage_{stager.name}"
        try:
            t0 = time.perf_counter()
            stager(spark, sf_dir)
            timings[entry] = round(time.perf_counter() - t0, 4)
            status[entry] = ok()
        except Exception as exc:
            print(f"bench: {entry} failed: {exc}", file=sys.stderr)
            status[entry] = failed(exc)

    # First use of the Python DataSource API spins up its worker
    # infrastructure (~15 s once per session, then <1 s per read). Warm it
    # with the real source so the timed entry measures the partitioned
    # read, and report the infra cost as its own line.
    try:
        t0 = time.perf_counter()
        run_once(spark, QUERIES["source_python_ds"].fn, sf_dir)
        timings["python_ds_infra_warmup"] = round(time.perf_counter() - t0, 4)
        status["python_ds_infra_warmup"] = ok()
    except Exception as exc:
        print(f"bench: python_ds_infra_warmup failed: {exc}", file=sys.stderr)
        status["python_ds_infra_warmup"] = failed(exc)

    # First use of an Arrow-batched Python path (mapInPandas /
    # pandas_udf) spins up the Python worker pool + Arrow IPC once per
    # session; whichever mm_/sim_ key ran first was absorbing it. Warm
    # with a 1-row no-op so the timed entries measure their own work.
    try:
        t0 = time.perf_counter()
        spark.range(1).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
        timings["arrow_infra_warmup"] = round(time.perf_counter() - t0, 4)
        status["arrow_infra_warmup"] = ok()
    except Exception as exc:
        print(f"bench: arrow_infra_warmup failed: {exc}", file=sys.stderr)
        status["arrow_infra_warmup"] = failed(exc)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Per-key wall budget for extra reps: keys whose runs have already
    # consumed this many seconds stop re-running (their absolute size
    # already dwarfs the noise band the medians exist to defeat), so the
    # whole bench stays inside the driver's capture window instead of
    # tripling its slowest keys. The budget gates only the THIRD rep on:
    # with a single rep, one noise-inflated draw (the documented 3-10×
    # swings) becomes the recorded number with nothing to correct it —
    # an 18 s outlier for a key that measures 7-8 s in isolation did
    # exactly that. Two reps bound the damage (lower-of-2) for at most
    # one extra slow-key run.
    rep_budget = 12.0
    all_reps: dict[str, list[float]] = {}
    # Classes codegen compiled during each key's timed reps (the codegen
    # compile layer); a warm key whose classes stay cached compiles none.
    compiles: dict[str, int] = {}
    failures = 0
    for name in sorted(QUERIES):
        runs: list[float] = []
        status[name] = ok()
        compiles0 = codegen_compiles(spark)
        for _ in range(reps):
            try:
                runs.append(round(run_once(spark, QUERIES[name].fn, sf_dir), 4))
            except Exception as exc:  # a failing query must not hide the rest
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                status[name] = failed(exc)
                break
            if len(runs) >= 2 and sum(runs) >= rep_budget:
                break
        all_reps[name] = runs
        compiles[name] = codegen_compiles(spark) - compiles0
        if status[name]["status"] != "ok" or not runs:
            timings[name] = -1.0
            failures += 1
        else:
            # lower median: true median for odd n, min for n=2 (the less
            # noise-inflated sample), the run itself for n=1
            timings[name] = sorted(runs)[(len(runs) - 1) // 2]
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # Split totals (r5 verdict bookkeeping nit #1): infra/staging entries
    # are every timing key that is not a registry query — one-off fixture
    # generation and worker-pool warmups. Reporting them inside the
    # all-queries total made round-over-round totals look like
    # regressions whenever the registry grew; `value` keeps the combined
    # number for continuity, the split pair is the comparable one.
    total_infra = round(
        sum(t for k, t in timings.items() if k not in QUERIES and t >= 0), 4
    )
    total_queries = round(total - total_infra, 4)

    # Noise indicator (r3 verdict item #7): per-key max/median rep ratio,
    # plus a fleet-level summary in the one-line output, so a reader can
    # judge how much of any round-over-round delta is the documented
    # 3-10× box swing without opening the raw reps.
    noise_per_key = {
        name: round(max(runs) / timings[name], 3)
        for name, runs in all_reps.items()
        if len(runs) >= 2 and timings.get(name, -1.0) > 0
    }
    ratios = sorted(noise_per_key.values())
    fleet_noise = (
        {
            "keys": len(ratios),
            "med": ratios[(len(ratios) - 1) // 2],
            # nearest-rank percentile: ceil(0.9*n)-1, so p90 < max for
            # any fleet of >= 2 keys (int(0.9*n) picked the max for
            # fleets of <= 10 and overstated the label)
            "p90": ratios[max(0, math.ceil(0.9 * len(ratios)) - 1)],
            "max": ratios[-1],
        }
        if ratios
        else None
    )

    # Box-speed canary (r9, adjudicating the r8 one-sided ~10% drift):
    # a FIXED Spark-free workload — numpy matmul + DuckDB aggregate —
    # timed beside every bench so rounds can normalize engine numbers
    # against box state instead of arguing from the noise envelope.
    # Identical work every round; cross-round movement here is the box,
    # not the engine. r10 (ADVICE r9 low #3): runs in a FRESH subprocess
    # (tools/box_canary.py — same workload byte-for-byte) so the
    # normalizer measures only box state, not this process's resident
    # JVM heap / allocator fragmentation after the full suite.
    tools_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    status["box_canary"], canary = run_json_child(
        [sys.executable, os.path.join(tools_dir, "box_canary.py")], timeout=120
    )
    if canary is None:  # canary must never fail the bench line
        print(f"bench: box canary failed: {status['box_canary']['error']}", file=sys.stderr)

    # Isolated-headline mode (r6 verdict item 4): the in-suite flagship /
    # corpus_curate numbers drift round-over-round with session AGE (the
    # suite ran ~8,400 stages in one JVM by the time r6 measured them).
    # Re-measure each in a FRESH subprocess session (get_spark configs —
    # same factory as this suite, so only session AGE differs; warmup +
    # median of reps) so every BENCH_r*.json carries the session-age-free
    # number beside the in-suite one. Adjudication 2026-08-15: isolated
    # medians 0.95 s (flagship) / 0.92 s (corpus_curate) at sf0.1 vs
    # in-suite r6 0.99 / 1.29 and in-suite r7 0.58 / 0.62 — the
    # round-over-round swing is session composition (suite position /
    # JIT warmth) plus the driver's between-round testdata regeneration,
    # not a plan regression (both plans unchanged and shape-pinned).
    # Not counted in any total; skippable via SPARK_GRAFT_BENCH_ISOLATED=0.
    # r10 (verdict items 1+6): seven drift-watch keys (r9's five plus
    # the two >3 s dedup keys, dedup_embedding_lsh being the open r9
    # watch item), each measured in TWO fresh processes x five reps so
    # every committed isolated number is a distribution, not a draw.
    # r11 (r10 ADVICE low #2): the per-key shape is now a DICT
    # {"median": m, "min": lo, "max": hi} (failure {"median": -1.0}) —
    # self-describing across rounds; tools/bench_compare.py parses all
    # three historical shapes (scalar <= r09, [med,min,max] list = r10,
    # dict >= r11). Full per-process rep lists go to BENCH_DETAIL.json.
    # r11 (r10 verdict item 3): sim_topk_ivf + sim_knn_join join the
    # watch list — the only >1.25x normalized r10 movers without a
    # per-process distribution (code untouched; suspected box).
    # r13 (r12 verdict item 1): dedup_minhash + dedup_stopshingle join
    # — the r12 battery's flagged movers (4.92 s / 2.5 s driver-side vs
    # ~1.0 / 1.2-1.9 s in every same-tree isolated measurement). With
    # these in the list, the DRIVER's own bench line carries the
    # fresh-process distribution on the driver's box beside the
    # in-suite number, so a battery-window transient can never again
    # sit unadjudicated for a round (DRIFT_r13 mechanism note in
    # NOTES.md).
    # r14 (r13 verdict item 2): cnpj_flagship joins — the one r13 mover
    # beyond the noise band (0.552→0.929 s in-suite on untouched code;
    # the driver's own 8-core run read 0.536 s on the same tree) whose
    # adjudication lived in builder notes instead of the driver's line.
    # Its isolated warmup run absorbs the cnpj env staging, so the
    # timed reps measure the query exactly like the in-suite entry.
    # Additions-only: the in-suite timed path is untouched.
    isolated: dict[str, dict[str, float]] = {}
    isolated_reps: dict[str, list[list[float]]] = {}
    isolated_status: dict[str, list[dict]] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATED", "1") != "0":
        import statistics

        iso_reps, iso_procs = "5", 2
        for key in (
            "flagship",
            "corpus_curate",
            "graph_pagerank",
            "tpch_q5",
            "sim_topk",
            "dedup_embedding_lsh",
            "dedup_simhash",
            "sim_topk_ivf",
            "sim_knn_join",
            "dedup_minhash",
            "dedup_stopshingle",
            "cnpj_flagship",
        ):
            pooled: list[float] = []
            isolated_reps[key] = []
            isolated_status[key] = []
            for _ in range(iso_procs):
                record, value = run_json_child(
                    [sys.executable, os.path.join(tools_dir, "bench_isolated.py"), key, iso_reps, sf_dir],
                    timeout=300,
                )
                if record["status"] == "ok":
                    pooled.extend(value["reps"])
                    isolated_reps[key].append(value["reps"])
                else:
                    print(f"bench: isolated {key} {record['status']}: {record['error']}", file=sys.stderr)
                isolated_status[key].append(record)
            isolated[key] = (
                {
                    "median": round(statistics.median(pooled), 3),
                    "min": round(min(pooled), 3),
                    "max": round(max(pooled), 3),
                }
                if pooled
                else {"median": -1.0}
            )

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(
                {
                    "metric": "total_wall_sec_all_queries",
                    "value": total,
                    "total_queries_sec": total_queries,
                    "total_infra_sec": total_infra,
                    "unit": "sec",
                    "queries": timings,
                    "queries_reps": all_reps,
                    "queries_noise": noise_per_key,
                    "codegen_compiles": compiles,
                    "isolated_reps": isolated_reps,
                    "isolated_status": isolated_status,
                    "status": status,
                    "reps": reps,
                    "sf": sf,
                    "failures": failures,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)

    headline = {k: timings[k] for k in HEADLINE if k in timings}
    # Per-entry infra timings in the one-line output (r10 ADVICE low
    # #1): banded_posting_build moved a cost OUT of total_queries_sec in
    # r10, so cross-round total comparisons against pre-r10 lines need
    # it re-added — tools/bench_compare.py does that from this field.
    infra = {k: t for k, t in timings.items() if k not in QUERIES and t >= 0}
    print(
        json.dumps(
            {
                "metric": "total_wall_sec_all_queries",
                "value": total,
                "total_queries_sec": total_queries,
                "total_infra_sec": total_infra,
                "unit": "sec",
                "queries": headline,
                "infra": infra,
                "isolated_fresh_session": isolated or None,
                "box_canary": canary,
                "sf": sf,
                "n_queries": sum(1 for t in timings.values() if t >= 0),
                "failures": failures,
                "noise": fleet_noise,
                "queries_full_file": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
