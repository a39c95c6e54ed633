"""Spans around calls into the package, with Spark's own job, stage and task
counters for each span.

A span times one call into a module's public function. With tracing on it
also gives the call its own job group and, when the call returns, reads every
job the call launched from Spark's status store (``AppStatusStore``): the
job count, and per stage the task count, executor run and CPU time, input,
output and shuffle bytes, and spill. The store keeps only the last 1000
stages, so each span harvests as soon as it closes.

Jobs are found by id, not by job group: ``cnpj.load.load_raw_parquet`` runs
its loads from a thread pool whose threads do not inherit the caller's job
group, and job ids are dense and increasing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Counters summed over the stages a span ran, as (name, StageData getter, scale).
STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)
COUNTERS = ("jobs", "stages", "tasks") + tuple(f for f, _, _ in STAGE_FIELDS)


class Tracer:
    """Records spans; with ``enabled`` false a span only measures wall time."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._seen_stages: set[int] = set()

    def attach(self, spark) -> None:
        """Follow a (new) session; job ids restart with each SparkContext."""
        self._spark = spark
        self._seen_stages = set()

    def _jsc(self):
        return self._spark.sparkContext._jsc.sc()

    @contextmanager
    def span(self, name: str, op=None, harvest: bool = True):
        """Time a block that belongs to operation `op` (any hashable id).
        ``harvest`` false marks a span that only groups its children (an
        operation), whose jobs its children already count."""
        rec = {"name": name, "op": op, "parent": self._stack[-1]["id"] if self._stack else None, "id": len(self.spans),
               "group": not harvest}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._spark.sparkContext if (self.enabled and harvest and self._spark is not None) else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-{rec['id']}", name)
            first_job = self._jsc().dagScheduler().numTotalJobs()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if sc is not None:
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                h0 = time.perf_counter()
                try:
                    rec.update(self.harvest(first_job))
                except Py4JJavaError as exc:  # keep the call's own error, if any
                    rec["harvest_error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0]}"
                rec["harvest_s"] = time.perf_counter() - h0

    def harvest(self, first_job: int) -> dict:
        """Counters of every job with id >= first_job, each stage counted once."""
        jsc = self._jsc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in range(first_job, jsc.dagScheduler().numTotalJobs()):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # evicted from the store, or never posted
                continue
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if stage.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                for field, getter, scale in STAGE_FIELDS:
                    out[field] += getattr(stage, getter)() * scale
        return out


def totals(spans: list[dict], prefix: str, ops: set[int] | None = None) -> dict:
    """Wall time and counters summed over the spans whose name starts with
    `prefix`, optionally only those of the operations in `ops`. Grouping spans
    are skipped: their children already count their time and jobs."""
    out = {"wall_s": 0.0, "harvest_s": 0.0, **dict.fromkeys(COUNTERS, 0)}
    for s in spans:
        if s["group"] or not s["name"].startswith(prefix) or (ops is not None and s["op"] not in ops):
            continue
        out["wall_s"] += s["wall_s"]
        out["harvest_s"] += s.get("harvest_s", 0.0)
        for c in COUNTERS:
            out[c] += s.get(c, 0)
    return out
