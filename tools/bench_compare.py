"""Cross-round bench comparison, canary-normalized.

Usage:
    python tools/bench_compare.py BENCH_rA.json BENCH_rB.json [threshold]

Reads two committed BENCH_r*.json lines, divides every shared per-key
timing in B by its twin in A (raw ratio), then divides that by the
box_canary ratio — the normalized ratio is the engine-attributable
movement. Prints keys whose normalized ratio exceeds the threshold
(default 1.5) in either direction, plus totals, the canary row, and
the isolated fresh-process medians for shared drift-watch keys.

Reading rule (r10 verdict item 4 — the two canary probes can disagree,
duckdb 2.51x vs matmul 7.3x in the r10 window): normalize by
duckdb_agg_30m (closer to the workload mix), REPORT both ratios, and
treat a key as engine signal only when it exceeds the threshold under
BOTH normalizations (rows below are tagged `both` / `duckdb-only`).
Falls back to raw ratios when either round predates the canary.

Comparable totals (r10 ADVICE low #1): r10 reclassified
banded_posting_build as infra, moving ~0.4 s OUT of total_queries_sec;
when exactly one side carries that entry (in its `infra` field,
emitted from r11 on), its cost is re-added to that side's total so
pre-r10 vs post-r10 totals compare like for like.

Isolated shapes (r10 ADVICE low #2): isolated_fresh_session values
were a scalar through r09, a [median, min, max] list in r10, and a
{"median", "min", "max"} dict from r11 — `iso_median` parses all
three, so any two committed rounds stay machine-comparable.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    d = json.load(open(path))
    return d.get("parsed") or d  # some early rounds carry "parsed": null


def iso_median(v) -> float | None:
    """Median from any historical isolated_fresh_session shape:
    scalar (<= r09), [median, min, max] list (r10), dict (>= r11).
    Returns None for absent/failed entries (sentinel median -1.0)."""
    if isinstance(v, dict):
        v = v.get("median", -1.0)
    elif isinstance(v, list):
        v = v[0] if v else -1.0
    return float(v) if isinstance(v, (int, float)) and v > 0 else None


def _posting_build(line: dict) -> float | None:
    """The banded posting build's infra entry, under its pre- or
    post-staging.py name."""
    infra = line.get("infra") or {}
    return infra.get("banded_posting_build", infra.get("stage_banded"))


def comparable_totals(a: dict, b: dict) -> tuple[float | None, float | None, str]:
    """total_queries_sec pair, re-including banded_posting_build on the
    side that staged it as infra when the other side did not (i.e. the
    other side's query timings absorbed that build cost)."""
    ta, tb = a.get("total_queries_sec"), b.get("total_queries_sec")
    note = ""
    ba = _posting_build(a)
    bb = _posting_build(b)
    if ta and tb:
        if bb and not ba:
            tb, note = round(tb + bb, 4), f" (B +{bb}s posting build re-added)"
        elif ba and not bb:
            ta, note = round(ta + ba, 4), f" (A +{ba}s posting build re-added)"
    return ta, tb, note


def main() -> int:
    a, b = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

    can_a, can_b = a.get("box_canary") or {}, b.get("box_canary") or {}
    ca, cb = can_a.get("duckdb_agg_30m"), can_b.get("duckdb_agg_30m")
    ma, mb = can_a.get("numpy_matmul_3072"), can_b.get("numpy_matmul_3072")
    box = (cb / ca) if ca and cb else None
    box_mm = (mb / ma) if ma and mb else None
    ta, tb, note = comparable_totals(a, b)
    tot_raw = f"raw {tb / ta:.2f}x" if ta and tb else "raw n/a"
    canary_txt = "; no canary in one side — raw ratios only"
    if box:
        canary_txt = f"; box canary duckdb {ca} -> {cb} s ({box:.2f}x)"
        if box_mm:
            canary_txt += f", matmul {ma} -> {mb} s ({box_mm:.2f}x)"
    print(f"totals: {ta} -> {tb} s ({tot_raw}){note}{canary_txt}")

    qa, qb = a.get("queries", {}), b.get("queries", {})
    rows = []
    for k in sorted(set(qa) & set(qb)):
        if qa[k] <= 0 or qb[k] <= 0:
            continue
        raw = qb[k] / qa[k]
        norm = raw / box if box else raw
        norm_mm = raw / box_mm if box_mm else None
        if norm > thr or norm < 1 / thr:
            if norm_mm is not None:
                tag = (
                    "both"
                    if (norm_mm > thr or norm_mm < 1 / thr)
                    else "duckdb-only"
                )
            else:
                tag = "single-canary"
            rows.append((norm, raw, norm_mm, tag, k))
    if not rows:
        print(f"no shared key moved beyond {thr}x after normalization")
    for norm, raw, norm_mm, tag, k in sorted(rows, reverse=True):
        mm_txt = f" norm_mm {norm_mm:.2f}x" if norm_mm is not None else ""
        print(
            f"  {k}: {qa[k]:.2f} -> {qb[k]:.2f} s  raw {raw:.2f}x  "
            f"norm {norm:.2f}x{mm_txt}  [{tag}]"
        )

    ia, ib = a.get("isolated_fresh_session") or {}, b.get(
        "isolated_fresh_session"
    ) or {}
    shared = [
        (k, iso_median(ia[k]), iso_median(ib[k]))
        for k in sorted(set(ia) & set(ib))
    ]
    shared = [(k, x, y) for k, x, y in shared if x and y]
    if shared:
        print("isolated medians (fresh-process):")
        for k, x, y in shared:
            raw = y / x
            norm = raw / box if box else raw
            print(f"  {k}: {x:.2f} -> {y:.2f} s  raw {raw:.2f}x  norm {norm:.2f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
