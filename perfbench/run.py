"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics. Everything the run writes
stays under ``perfbench/.work/``: inputs are cached there by seed, and each
run's outputs, Spark local dirs and temp files go to a fresh directory that is
deleted when the run ends. A per-operation record (status, error, latency,
spans with their Spark counters) is written to
``perfbench/.work/detail/<workload>-seed<n>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("cnpj_e2e", "plan_mix")
# A run stops starting new rounds after this many seconds, so that it ends
# well inside the 180 s a run may take.
RUN_DEADLINE_S = 140.0


def describe(exc: BaseException) -> str:
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"


def pin_environment(spec: dict, run_dir: str) -> dict:
    """Environment the engine reads, set before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    from perfbench import inputs

    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": spec["driver_memory"],
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--driver-java-options",
                # No hsperfdata file: the JVM would write it under /tmp.
                shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
                "--conf",
                "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
        # cnpj_flagship sizes its oracle feed from this at import time.
        "SPARK_GRAFT_TEST_SF_DIR": inputs.MIX_SF,
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


class Ctx:
    """State of one run that the workloads read and write."""

    def __init__(self, seed: int, run_dir: str, tracer):
        self.seed = seed
        self.work = run_dir
        self.cache = os.path.join(WORK, "cache")
        self.tracer = tracer
        self.op_facts: dict = {}
        self.checks = 0
        self.failures: dict[str, str] = {}  # operation kind -> gate error

    def fresh_dir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=f"{prefix}-", dir=self.work)

    def guard(self, kind: str, check) -> None:
        """Run one correctness check; a failure marks every operation of `kind` wrong."""
        try:
            check()
            self.checks += 1
        except Exception as exc:  # noqa: BLE001 - any failure is a gate failure
            self.failures[kind] = describe(exc)
            print(f"perfbench: gate failed for {kind}: {describe(exc)}", file=sys.stderr)


def start_session():
    from etl_cnpjs_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of one process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_op(spark, wl, ctx, kind: str, op: int, traced: bool, timeout_s: float) -> dict:
    """One operation: timed, with a timeout that cancels its Spark jobs, then
    checked outside the timed region."""
    tracer = ctx.tracer
    tracer.enabled = traced
    timed_out = threading.Event()

    def cancel() -> None:
        timed_out.set()
        spark.sparkContext.cancelAllJobs()

    timer = threading.Timer(timeout_s, cancel)
    rec = {"op": op, "kind": kind, "traced": traced, "status": "ok", "error": None}
    out = None
    timer.start()
    t0 = time.perf_counter()
    try:
        with tracer.span("op", op, harvest=False):
            out = wl.run_op(spark, tracer, kind, op, ctx)
        rec["latency_s"] = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 - one failure must not lose the other numbers
        rec["status"] = "timeout" if timed_out.is_set() else "error"
        rec["error"] = describe(exc)
    finally:
        timer.cancel()
    try:
        if rec["status"] == "ok":
            wl.check_op(kind, out, ctx)
    except Exception as exc:  # noqa: BLE001 - a failed check is a wrong result
        rec["status"], rec["error"] = "wrong", describe(exc)
    finally:
        if isinstance(out, str):
            shutil.rmtree(out, ignore_errors=True)
    if rec["status"] == "ok" and kind in ctx.failures:
        rec["status"], rec["error"] = "wrong", ctx.failures[kind]
    return rec


def layer_metrics(spans, rounds, facts, cores) -> dict:
    """Per-layer metrics of one round each, as medians over rounds."""
    from perfbench.spans import totals

    per_round = []
    for ops in rounds:
        m = {}
        tot = {p: totals(spans, p, ops) for p in (
            "ingest.discover", "load.", "flagship.build", "flagship.analyze",
            "export.", "export.export_csv", "export.merge_single_file",
            "plans.", "plans.construct", "plans.analyze", "plans.execute", "", )}
        m["ingest.discover_s"] = tot["ingest.discover"]["wall_s"]
        for layer, fields in (
            ("load", ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes", "output_bytes")),
            ("export", ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes")),
            ("plans", ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")),
        ):
            for f in fields:
                m[f"{layer}.{f}"] = tot[f"{layer}."][f]
        m["load.wall_s"] = tot["load."]["wall_s"]
        for step in ("build", "analyze"):
            m[f"flagship.{step}_s"] = tot[f"flagship.{step}"]["wall_s"]
        m["export.csv_s"] = tot["export.export_csv"]["wall_s"]
        m["export.merge_s"] = tot["export.merge_single_file"]["wall_s"]
        for step in ("construct", "analyze", "execute"):
            m[f"plans.{step}_s"] = tot[f"plans.{step}"]["wall_s"]
        m["plans.construct_jobs"] = tot["plans.construct"]["jobs"]
        m["plans.overhead_s"] = tot["plans."]["wall_s"] - tot["plans."]["executor_run_s"] / cores if tot["plans."]["wall_s"] else 0.0
        m["trace.harvest_s"] = tot[""]["harvest_s"]
        f = [facts[o] for o in ops if o in facts]
        for name in ("ingest.files", "export.output_bytes", "export.parts"):
            m[name] = sum(x[name] for x in f)
        raw = sum(x["raw_bytes"] for x in f)
        m["load.bytes_out_per_in"] = sum(x["parquet_bytes"] for x in f) / raw if raw else 0.0
        per_round.append(m)
    if not per_round:
        return {}
    return {k: statistics.median(m[k] for m in per_round) for k in per_round[0]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "etl_cnpjs_spark", "session.py")):
        print(f"perfbench: the engine package is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # Import the benchmark as a package from the checkout root, so that its
    # module names never shadow others.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    stdout = sys.stdout
    try:
        with contextlib.redirect_stdout(sys.stderr):
            result, detail = _run(args, spec, bench, run_dir, t_process)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["process_s"] = time.perf_counter() - t_process
    os.makedirs(os.path.join(WORK, "detail"), exist_ok=True)
    with open(os.path.join(WORK, "detail", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result), file=stdout, flush=True)
    return 0


def _run(args, spec, bench, run_dir, t_process):
    env_spec = spec["environment"]
    env = pin_environment(env_spec, run_dir)
    cores = int(env["SPARK_GRAFT_CPUS"])

    import duckdb
    import pyspark

    from perfbench import workloads
    from perfbench.spans import Tracer, totals

    versions = {"spark": pyspark.__version__, "duckdb": duckdb.__version__}
    for k, v in versions.items():
        if v != env_spec[k]:
            print(f"perfbench: {k} {v} differs from the pinned {env_spec[k]}", file=sys.stderr)
    if cores != env_spec["expected_cores"]:
        print(f"perfbench: {cores} cores, the figures were taken on {env_spec['expected_cores']}", file=sys.stderr)

    wl = {
        "cnpj_e2e": workloads.CnpjE2E,
        "plan_mix": lambda: workloads.PlanMix(spec["plan_mix_keys"]),
    }[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, run_dir, tracer)
    layer: dict = {}

    inputs_info = wl.prepare(ctx)
    layer["fixtures.gen_s"] = inputs_info["fixtures.gen_s"]

    # Setup, several times on a fresh session each; the first starts the JVM.
    spark = None
    setup_s, session_s = [], []
    try:
        for rep in range(env_spec["setup_reps"]):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            session_s.append(time.perf_counter() - t0)
            tracer.attach(spark)
            wl.stage(spark, ctx, f"setup{rep}")
            setup_s.append(time.perf_counter() - t0)
        layer["session.start_s"] = session_s[0]
        layer["session.restart_s"] = statistics.median(session_s[1:]) if len(session_s) > 1 else session_s[0]
        for name in ("staging.cnpj_env", "staging.doc_shingles", "staging.exact_pairs",
                     "staging.banded8x2", "staging.arrow_warm"):
            walls = [s["wall_s"] for s in tracer.spans if s["name"] == name]
            layer[f"{name}_s"] = statistics.median(walls) if walls else 0.0

        tracer.enabled = False
        t0 = time.perf_counter()
        wl.warm(spark, ctx)
        layer["warm.pass_s"] = time.perf_counter() - t0

        # Measured region: whole rounds until --seconds have passed.
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        records, rounds = [], []
        cpu0 = cpu_s("self") + cpu_s(jvm_pid)
        t_start = time.perf_counter()
        r = 0
        while True:
            traced_ops = set()
            for kind in wl.round(r):
                # Traced runs alternate which of the pair goes first.
                order = ((True, False) if len(records) % 4 == 0 else (False, True)) if args.trace else (False,)
                for traced in order:
                    rec = run_op(spark, wl, ctx, kind, len(records), traced, env_spec["op_timeout_s"])
                    rec["round"] = r
                    records.append(rec)
                    if traced:
                        traced_ops.add(rec["op"])
            rounds.append(traced_ops)
            r += 1
            now = time.perf_counter()
            if now - t_start >= args.seconds or now - t_process >= RUN_DEADLINE_S:
                break
        measured_s = time.perf_counter() - t_start
        measured_cpu_s = cpu_s("self") + cpu_s(jvm_pid) - cpu0
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            shutdown(spark)

    attempted = len(records)
    failed = sum(1 for x in records if x["status"] != "ok")
    ok = [x["latency_s"] for x in records if x["status"] == "ok" and not x["traced"]]
    layer["peak_rss_mb"] = rss
    layer["cpu_ms_per_op"] = measured_cpu_s / attempted * 1000.0
    metrics: dict = {}
    per_kind: dict = {}
    if args.trace:
        traced = [x["latency_s"] for x in records if x["status"] == "ok" and x["traced"]]
        layer.update(layer_metrics(tracer.spans, rounds, ctx.op_facts, cores))
        layer["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(ok) if traced and ok else 0.0
        layer["gate.checks"] = ctx.checks
        layer["gate.error_rate"] = failed / attempted if attempted else 0.0
        wanted = bench["per_layer"]
        for kind in dict.fromkeys(x["kind"] for x in records):
            ops = {x["op"] for x in records if x["kind"] == kind and x["traced"]}
            per_kind[kind] = totals(tracer.spans, "", ops)
    else:
        if ok:
            layer["op_p50_ms"] = statistics.median(ok) * 1000.0
            layer["ops_per_s"] = len(ok) / sum(ok)
        layer["setup_s"] = statistics.median(setup_s)
        wanted = bench["end_to_end"]
    for m in wanted:
        if m["name"] in layer:
            metrics[m["name"]] = {"value": layer[m["name"]], "unit": m["unit"]}
    result = {
        "correct": failed == 0 and not ctx.failures and len(metrics) == len(wanted),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": {**env, **versions, "cores": cores},
        "inputs": inputs_info,
        "setup_s": setup_s,
        "session_s": session_s,
        "measured_s": measured_s,
        "gate_failures": ctx.failures,
        "layers": layer,
        "per_kind": per_kind,
        "operations": records,
        "spans": tracer.spans,
        "result": result,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
