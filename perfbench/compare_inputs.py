"""Compare the generated registry tables with a reference directory.

    python3 perfbench/compare_inputs.py --reference <sf_dir> [--seed 42] [--keys] [--also <sf_dir> ...]

Run from the repository root. ``<sf_dir>`` holds one ``<table>.parquet`` per
registry table, in the shape the plan_mix generator (``inputs.mix_tables``)
imitates. The tool prints, for each table, the statistics the mix's plans are
sensitive to (row count; per column distinct count, range and median string
length; document token length, vocabulary, exact and near duplicates; events
per user; embedding cluster structure), reference beside generated. With
``--keys`` it also runs the plan_mix keys on both directories, and on every
``--also`` directory, in one local session, and prints per key the jobs,
stages and tasks of a warm run and the median latency of three. Nothing is
written outside ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import collections
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _column_stats(table) -> dict:
    out = {"rows": table.num_rows}
    for field in table.schema:
        values = table.column(field.name).to_pylist()
        if values and isinstance(values[0], list):
            out[f"{field.name}.len"] = statistics.median(len(v) for v in values)
            continue
        out[f"{field.name}.distinct"] = len(set(values))
        present = [v for v in values if v is not None]
        if present and isinstance(present[0], str):
            out[f"{field.name}.median_len"] = statistics.median(len(v) for v in present)
        elif present:
            out[f"{field.name}.min"] = min(present)
            out[f"{field.name}.max"] = max(present)
    return out


def table_stats(sf_dir: str) -> dict[str, dict]:
    """Statistics of every registry table in `sf_dir`, by table."""
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench.inputs import MIX_ROWS

    stats = {}
    for name in ("region", "nation", *MIX_ROWS):
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        s = _column_stats(table)
        if name == "documents":
            texts = table.column("text").to_pylist()
            tokens = [t.split() for t in texts]
            s["tokens.median"] = statistics.median(len(t) for t in tokens)
            s["vocabulary"] = len({w for t in tokens for w in t})
            s["exact_duplicates"] = len(texts) - len(set(texts))
            shingles = [set(zip(t, t[1:], t[2:])) for t in tokens]
            s["near_duplicate_pairs"] = sum(
                1 for a, b in itertools.combinations(shingles, 2) if a and b and len(a & b) / len(a | b) >= 0.8
            )
        elif name == "events":
            per_user = collections.Counter(table.column("user_id").to_pylist()).values()
            s["events_per_user.median"] = statistics.median(per_user)
        elif name == "embeddings":
            vecs = np.array(table.column("embedding").to_pylist())
            labels = np.array(table.column("label").to_pylist())
            centroids = np.array([vecs[labels == lab].mean(0) for lab in np.unique(labels)])
            s["centroid_norm.mean"] = round(float(np.linalg.norm(centroids, axis=1).mean()), 3)
            sims = vecs @ vecs.T
            np.fill_diagonal(sims, -np.inf)
            s["nn_cosine.median"] = round(float(np.median(sims.max(1))), 3)
            s["nn_same_label"] = round(float((labels[sims.argmax(1)] == labels).mean()), 3)
        stats[name] = s
    return stats


def print_stats(ref: dict, gen: dict) -> None:
    print(f"{'table.statistic':44s} {'reference':>28s} {'generated':>28s}")
    for table, s in ref.items():
        for k, v in s.items():
            g = gen[table].get(k, "-")
            mark = "" if str(v) == str(g) else "  *"
            print(f"{table + '.' + k:44s} {str(v):>28s} {str(g):>28s}{mark}")


def key_profiles(spark, dirs: dict[str, str], keys: list[str], reps: int = 3) -> dict[str, dict]:
    """Per directory and key: counters of the last warm run and the median
    latency of `reps`. Keys run in turn on every directory, so that JIT
    warm-up favours none of them."""
    from etl_cnpjs_spark.plans import QUERIES, dedup
    from etl_cnpjs_spark.plans.cnpj_parity import ensure_cnpj_env
    from perfbench.spans import Tracer, totals

    for sf_dir in dirs.values():
        ensure_cnpj_env(spark, sf_dir)
        dedup._doc_shingles(spark, sf_dir)
        dedup._exact_pairs(spark, sf_dir)
        dedup._banded8x2(spark, sf_dir)
    tracer = Tracer(enabled=True)
    tracer.attach(spark)
    out: dict[str, dict] = {name: {} for name in dirs}
    for key in keys:
        for name, sf_dir in dirs.items():
            QUERIES[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            walls = []
            for rep in range(reps):
                t0 = time.perf_counter()
                with tracer.span("plans.key", (name, key, rep)):
                    QUERIES[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            t = totals(tracer.spans, "plans.", {(name, key, reps - 1)})
            out[name][key] = {"jobs": t["jobs"], "stages": t["stages"], "tasks": t["tasks"], "p50_s": statistics.median(walls)}
    return out


def print_keys(profiles: dict[str, dict]) -> None:
    names = list(profiles)
    print("key" + "".join(f"  | {n}: jobs/stages/tasks p50_s" for n in names))
    for key in next(iter(profiles.values())):
        cells = []
        for n in names:
            p = profiles[n][key]
            cells.append(f"{p['jobs']:3d}/{p['stages']:3d}/{p['tasks']:4d} {p['p50_s']:6.3f}")
        print(f"{key:22s}" + "".join(f"  | {c}" for c in cells))
    for n in names:
        print(f"pass over all keys, {n}: {sum(p['p50_s'] for p in profiles[n].values()):.2f} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reference", required=True, help="directory of reference <table>.parquet files")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--keys", action="store_true", help="also compare per-key jobs and latency")
    ap.add_argument("--also", nargs="*", default=[], help="further directories to profile per key")
    args = ap.parse_args(argv)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench import inputs, run

    work = os.path.join(HERE, ".work")
    gen_dir, _ = inputs.mix_tables(os.path.join(work, "cache"), args.seed)
    print_stats(table_stats(args.reference), table_stats(gen_dir))
    if not args.keys:
        return 0
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    run_dir = tempfile.mkdtemp(prefix="compare-", dir=work)
    try:
        run.pin_environment(spec["environment"], run_dir)
        spark = run.start_session()
        try:
            dirs = {"reference": args.reference, "generated": gen_dir}
            dirs.update({f"also {os.path.basename(os.path.normpath(d))}": d for d in args.also})
            profiles = key_profiles(spark, dirs, spec["plan_mix_keys"])
        finally:
            run.shutdown(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print_keys(profiles)
    return 0


if __name__ == "__main__":
    sys.exit(main())
