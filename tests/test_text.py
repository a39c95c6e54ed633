"""Text-family plans (plans/text.py) checked against values derived in
pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- text_keywords: the broadcast n_docs idf.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from etl_cnpjs_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_keywords_idf_matches_pure_python_spotcheck(spark):
    """text_keywords' broadcast-n_docs rewrite: the idf_micro of every
    ranked keyword must equal floor(ln(n_docs/df)*1e6+0.5) computed
    with Python floats from raw tokenization (whitespace split of
    trimmed text — functions.text.tokens' contract). Spot-checks the
    score decomposition score_micro == tf * idf_micro for the top-1
    keyword of every doc."""
    t = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = {
        d: txt.strip().split()
        for d, txt in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        )
        if txt and txt.strip()
    }
    n_docs = len(docs)
    df: dict[str, int] = {}
    tf: dict[int, dict[str, int]] = {}
    for d, toks in docs.items():
        counts: dict[str, int] = {}
        for tok in toks:
            counts[tok] = counts.get(tok, 0) + 1
        tf[d] = counts
        for tok in counts:
            df[tok] = df.get(tok, 0) + 1

    rows = QUERIES["text_keywords"].fn(spark, SF_DIR).collect()
    assert rows, "keywords plan returned nothing"
    checked = 0
    for r in rows:
        if r.rk != 1:
            continue
        idf_micro = math.floor(math.log(float(n_docs) / float(df[r.tok])) * 1e6 + 0.5)
        assert r.score_micro == tf[r.doc_id][r.tok] * idf_micro, (r.doc_id, r.tok)
        checked += 1
    assert checked == len(docs)
