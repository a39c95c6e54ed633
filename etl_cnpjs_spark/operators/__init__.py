"""Composable DataFrame operators.

Each module re-expresses one family from the reference's operator inventory
(SURVEY.md §2) — or one north-star extension family — as pure functions
DataFrame -> DataFrame. No RDDs; physical strategy is Catalyst's.
"""

from etl_cnpjs_spark.operators.relational import (  # noqa: F401
    dedup_exact,
    dedup_keep_latest,
    filter_in_lists,
    top_k,
)
