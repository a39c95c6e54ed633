"""Text-family plans (plans/text.py) checked against values derived in
pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- text_keywords: the broadcast n_docs idf.
- text_collocations_pmi: PMI arithmetic on a hand-counted fixture.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

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


# --- text_collocations_pmi vs Python arithmetic -------------------------------


@pytest.fixture()
def pmi_dir(tmp_path):
    """Counts chosen by hand: bigram 'alpha beta' x6 and 'gamma delta'
    x5 survive the min-count 5 prune; 'beta gamma' x2 is pruned. Filler
    unigrams skew the marginals so the two surviving PMIs differ."""
    docs = (
        ["alpha beta"] * 4
        + ["alpha beta gamma delta"] * 2  # adds 'beta gamma' x2 (pruned)
        + ["gamma delta"] * 3
        + ["alpha", "beta", "gamma gamma"]  # marginal skew, no new bigrams >= 5
    )
    pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["fix"] * len(docs),
            "n_chars": [len(t) for t in docs],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_pmi_matches_python(spark, pmi_dir):
    docs = pd.read_parquet(f"{pmi_dir}/documents.parquet")["text"]
    uni: dict[str, int] = {}
    big: dict[tuple, int] = {}
    total = 0
    for t in docs:
        toks = t.split()
        total += len(toks)
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(toks, toks[1:]):
            big[(x, y)] = big.get((x, y), 0) + 1
    surv = {p: c for p, c in big.items() if c >= 5}
    exp_rows = []
    for (w1, w2), cxy in surv.items():
        arg = (float(cxy) * float(total)) / (float(uni[w1]) * float(uni[w2]))
        pmi = math.floor(math.log(arg) * 1_000_000 + 0.5)
        exp_rows.append((w1, w2, cxy, pmi))
    exp_rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    expected = {
        (rk + 1, w1, w2): (cxy, pmi)
        for rk, (w1, w2, cxy, pmi) in enumerate(exp_rows)
    }

    got = {
        (r.rk, r.w1, r.w2): (r.cxy, r.pmi_micro)
        for r in QUERIES["text_collocations_pmi"].fn(spark, pmi_dir).collect()
    }
    assert got == expected
