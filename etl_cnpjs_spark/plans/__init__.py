"""Plan registry — importing this package registers every query.

Modules register plans via @register(name, oracle=...) into
registry.QUERIES; __spark_entry__.py re-exports that dict as the driver
contract.
"""

from collections.abc import Collection, Mapping

from etl_cnpjs_spark.plans.registry import QUERIES, QuerySpec, register  # noqa: F401

# Each import populates QUERIES; presentation_order below sets the final order.
from etl_cnpjs_spark.plans import relational  # noqa: E402,F401
from etl_cnpjs_spark.plans import sinks  # noqa: E402,F401
from etl_cnpjs_spark.plans import functions  # noqa: E402,F401
from etl_cnpjs_spark.plans import text  # noqa: E402,F401
from etl_cnpjs_spark.plans import dedup  # noqa: E402,F401
from etl_cnpjs_spark.plans import similarity  # noqa: E402,F401
from etl_cnpjs_spark.plans import multimodal  # noqa: E402,F401
from etl_cnpjs_spark.plans import streaming  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended2  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended3  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended4  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended5  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended6  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended7  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended8  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended9  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended10  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended11  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended12  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended13  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended14  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended15  # noqa: E402,F401
from etl_cnpjs_spark.plans import extended16  # noqa: E402,F401
from etl_cnpjs_spark.plans import tpch  # noqa: E402,F401
from etl_cnpjs_spark.plans import corpus  # noqa: E402,F401
from etl_cnpjs_spark.plans import udtf_plans  # noqa: E402,F401
from etl_cnpjs_spark.plans import layout  # noqa: E402,F401
from etl_cnpjs_spark.plans import cnpj_parity  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Registry presentation order — computed from shipped driver evidence.
#
# The external driver hashes a bounded prefix of queries() (~50 keys) against
# its DuckDB oracle each round, so the order decides which keys get verified.
# One rule sets it: sort by (bucket, latest green round, key name), with
# buckets 0 flagship, 1 oracle-bearing with no green row, 2 never-seen
# rows-only, 3 green, 4 already-seen rows-only. Unverified keys lead, green
# keys re-confirm stalest evidence first, and the order does not depend on
# which module registered a key or in what order. Plan semantics are
# unchanged.
# ---------------------------------------------------------------------------


def _driver_evidence() -> tuple[dict[str, int], set[str]]:
    """(green, seen) from every CORRECTNESS_r*.json the driver has
    shipped into the repo root. green maps key -> LATEST round number
    with a full rows+schema+hash pass (membership = "has a green row";
    the round number orders re-confirmation: evidence decays, so the
    driver window re-checks the stalest greens first). seen = any driver
    row at all."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    green: dict[str, int] = {}
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key, row in rows.items():
            seen.add(key)
            if isinstance(row, dict) and row.get("hash_match") is True:
                green[key] = max(green.get(key, 0), rnd)
    return green, seen


def presentation_order(
    specs: Mapping[str, QuerySpec], green: Mapping[str, int], seen: Collection[str]
) -> list[str]:
    """Keys of `specs` in presentation order. `green` maps key -> latest
    round with a full rows+schema+hash pass; `seen` holds every key with
    any driver row."""

    def bucket(k: str) -> int:
        if k == "flagship":
            return 0
        if k in green:
            return 3
        if specs[k].oracle is None:
            return 4 if k in seen else 2
        return 1

    return sorted(specs, key=lambda k: (bucket(k), green.get(k, 0), k))


_ordered = {k: QUERIES[k] for k in presentation_order(QUERIES, *_driver_evidence())}
QUERIES.clear()
QUERIES.update(_ordered)
del _ordered

__all__ = ["QUERIES", "QuerySpec", "register"]
