"""The registry presentation order IS the driver's verification plan: the
external driver hashes a bounded prefix (~50 keys) of queries() against
DuckDB each round. `presentation_order` sets it by one rule, (bucket,
latest green round, key name), from the shipped CORRECTNESS_r*.json
evidence. These tests pin the rule on synthetic evidence and on the real
evidence, and keep hand-kept priority lists and round-stamped tool
scripts from coming back.
"""

from __future__ import annotations

import ast
import pathlib
import random
import re

from etl_cnpjs_spark.plans import QUERIES, _driver_evidence, presentation_order
from etl_cnpjs_spark.plans.registry import QuerySpec

REPO = pathlib.Path(__file__).resolve().parents[1]


def _spec(name: str, oracle: str | None) -> QuerySpec:
    return QuerySpec(name=name, fn=lambda spark, sf_dir: None, oracle=oracle)


def _assert_unverified_lead_green(order: list[str], green: dict[str, int]) -> None:
    unverified = [
        i
        for i, k in enumerate(order)
        if k != "flagship" and k not in green and QUERIES[k].oracle is not None
    ]
    greens = [i for i, k in enumerate(order) if k != "flagship" and k in green]
    if unverified and greens:
        assert max(unverified) < min(greens), (
            f"driver-green keys occupy window slots ahead of unverified keys: "
            f"{[order[i] for i in greens if i < max(unverified)][:5]}"
        )


def test_presentation_order_synthetic_evidence():
    # One key per bucket, green keys from two rounds, name ties inside a
    # round and inside the non-green oracle bucket.
    expected = [
        "flagship",  # bucket 0, even though it is green
        "failed_oracle",  # bucket 1: seen, oracle, no green row
        "new_oracle",  # bucket 1: never seen, oracle
        "new_rows_only",  # bucket 2: never seen, no oracle
        "green_r2",  # bucket 3, round 2 (stalest first)
        "green_r4_a",  # bucket 3, round 4, name tie
        "green_r4_b",
        "seen_rows_only",  # bucket 4: seen, no oracle
    ]
    oracles = {"new_rows_only": None, "seen_rows_only": None}
    specs = {k: _spec(k, oracles.get(k, "SELECT 1")) for k in reversed(expected)}
    green = {"flagship": 9, "green_r2": 2, "green_r4_b": 4, "green_r4_a": 4}
    seen = set(green) | {"failed_oracle", "seen_rows_only"}
    assert presentation_order(specs, green, seen) == expected


def test_order_ignores_registration_order():
    green, seen = _driver_evidence()
    items = list(QUERIES.items())
    for seed in range(3):
        random.Random(seed).shuffle(items)
        assert presentation_order(dict(items), green, seen) == list(QUERIES)


def test_flagship_first():
    assert next(iter(QUERIES)) == "flagship"


def test_green_keys_sort_behind_unverified_oracle_keys():
    green, seen = _driver_evidence()
    _assert_unverified_lead_green(list(QUERIES), green)
    # The shipped evidence leaves no oracle key unverified, so also drop the
    # green rows of three freshly verified keys: they must lead the window.
    dropped = [
        k for k in QUERIES if k in green and k != "flagship" and QUERIES[k].oracle is not None
    ][-3:]
    evidence = {k: r for k, r in green.items() if k not in dropped}
    order = presentation_order(QUERIES, evidence, seen)
    assert order[1:4] == sorted(dropped)
    _assert_unverified_lead_green(order, evidence)


def test_window_prefix_is_all_oracle_bearing():
    # The driver's compare adds nothing for rows-only keys it has already
    # seen; the 50-key window should spend its slots on hash-checkable rows.
    prefix = list(QUERIES)[:50]
    rows_only = [k for k in prefix if QUERIES[k].oracle is None]
    _green, seen = _driver_evidence()
    wasted = [k for k in rows_only if k in seen]
    assert wasted == [], f"window slots wasted on already-seen rows-only keys: {wasted}"


def test_green_bucket_rotates_stalest_evidence_first():
    """Within driver-green keys, re-confirmation order is oldest latest-
    green round first, so evidence freshness doesn't decay as the
    surface grows."""
    green, _seen = _driver_evidence()
    order = list(QUERIES)
    green_in_order = [green[k] for k in order if k in green and k != "flagship"]
    assert green_in_order == sorted(green_in_order), (
        "green keys are not ordered stalest-evidence-first"
    )


def test_no_round_stamped_tool_scripts():
    stamped = sorted(
        p.name for p in (REPO / "tools").glob("*.py") if re.search(r"_r\d+[a-z]?\.py$", p.name)
    )
    assert stamped == [], f"round-stamped tool scripts: {stamped}"


def test_registry_order_names_no_keys():
    # The order comes from evidence alone; a key named as a literal in the
    # registry package is the start of a hand-kept priority list.
    tree = ast.parse((REPO / "etl_cnpjs_spark" / "plans" / "__init__.py").read_text())
    named = sorted(
        {
            node.value
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value in QUERIES
            and node.value != "flagship"
        }
    )
    assert named == [], f"registry keys named in plans/__init__.py: {named}"
