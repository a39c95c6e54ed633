"""corpus_dedup_funnel: stage-level behavior on an independent fixture.

The shipped corpora happen to exercise stages 1 and 3 only
(kept_cut == kept_near at every SF): after ExactSubstr cuts every
duplicated run of >= k+1 tokens, two cleaned docs can share at most
k-token exact runs, which caps 3-shingle Jaccard well below the 0.8
near-dup threshold — so stage 2's post-cut role is structurally the
SHORT-doc duplicates (docs under k=8 tokens carry no k-grams, so
ExactSubstr cannot see them at all). This fixture plants one case per
stage and pins the full funnel — Spark AND the DuckDB oracle — against
hand-derived counts, so a shared-spec mistake in the registered pair
cannot pass silently (the r6 ADVICE blind-spot pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from etl_cnpjs_spark.plans import QUERIES

DIM = 12


def _tok(doc: int, i: int) -> str:
    return f"t{doc}_{i}"


@pytest.fixture()
def fixture_dir(tmp_path):
    """10 single-source docs planting one removal case per stage:

    - docs 0,1: distinct 10-token uniques + a SHARED 12-token span ->
      stage 1 cuts the span from both, neither is dropped, and the
      cleaned remainders are disjoint (no stage-2 pair).
    - docs 2,3: exact 15-token duplicates -> every gram duplicated ->
      both cut to nothing (the documented full-duplicate degeneration):
      kept_cut = 8.
    - docs 4,5: exact 3-token duplicates — BELOW k=8, invisible to
      ExactSubstr; identical single shingle -> Jaccard 1 -> one CC
      component -> doc 5 (non-min) dropped at stage 2: kept_near = 7.
    - docs 6,7: distinct texts, IDENTICAL embeddings sharing a label ->
      same centroid cell, cosine 1 >= tau -> doc 7 dropped at stage 3:
      kept_sem = 6.
    - docs 8,9: unique fillers, survive everything.

    Embeddings are one-hot (cos = 0 between distinct docs, 1 for the
    planted 6/7 pair), so no accidental semantic near-dups.
    """
    shared = [f"s_{i}" for i in range(12)]
    dup_long = [f"d_{i}" for i in range(15)]
    texts = {
        0: [_tok(0, i) for i in range(10)] + shared,
        1: [_tok(1, i) for i in range(10)] + shared,
        2: dup_long,
        3: dup_long,
        4: ["alpha4", "beta4", "gamma4"],
        5: ["alpha4", "beta4", "gamma4"],
        6: [_tok(6, i) for i in range(10)],
        7: [_tok(7, i) for i in range(10)],
        8: [_tok(8, i) for i in range(10)],
        9: [_tok(9, i) for i in range(10)],
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [" ".join(t) for t in texts.values()],
            "lang": ["en"] * 10,
            "source": ["fix"] * 10,
            "n_chars": [len(" ".join(t)) for t in texts.values()],
        }
    )
    vecs, labels = [], []
    for i in range(10):
        hot = 6 if i == 7 else i  # doc 7 shares doc 6's direction
        v = np.zeros(DIM)
        v[hot] = 1.0
        vecs.append(v.tolist())
        labels.append(6 if i == 7 else i)
    emb = pd.DataFrame({"vec_id": range(10), "embedding": vecs, "label": labels})
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    return str(tmp_path)


EXPECTED = ("fix", 10, 8, 7, 6)  # (source, n_docs, kept_cut, kept_near, kept_sem)


def test_funnel_fixture_spark(spark, fixture_dir):
    rows = QUERIES["corpus_dedup_funnel"].fn(spark, fixture_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    got = (r.source, r.n_docs, r.kept_cut, r.kept_near, r.kept_sem)
    assert got == EXPECTED, f"funnel counts {got} != hand-derived {EXPECTED}"


def test_funnel_fixture_oracle(fixture_dir):
    """The DuckDB oracle must land on the SAME hand-derived counts —
    pinning the oracle against an independent derivation, not just
    against the Spark twin."""
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{fixture_dir}/{t}.parquet')"
        )
    rows = con.execute(QUERIES["corpus_dedup_funnel"].oracle).fetchall()
    assert [tuple(r) for r in rows] == [EXPECTED]


def _shipped_sf_dirs():
    """EVERY /root/testdata/sf* dir, discovered at collection time.
    corpus_dedup_funnel's hash oracle enumerates exact-Jaccard pairs
    while the plan discovers them via 8x2 banding, so the key is
    trusted on a corpus ONLY where this recall test passes (ADVICE r7:
    theoretical per-pair miss ~3e-4 at J=0.8) — a newly shipped SF is
    gated automatically by being discovered here."""
    import glob

    return sorted(glob.glob("/root/testdata/sf*"))


def test_funnel_lsh_recall_on_cleaned_text(spark, fixture_dir, sf_dir):
    """dedup_minhash's adjudication, re-asserted on the funnel's input:
    the 8x2-banded candidate path recovers EVERY exact-Jaccard >= 0.8
    pair of the CLEANED corpus — on the fixture (where a pair exists:
    the short dup 4/5) and on EVERY shipped SF (where the cut leaves
    none; equality still pins that banding invents nothing). This test
    is the funnel key's TRUST GATE per corpus (see _shipped_sf_dirs)."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.functions.text import shingles, tokens
    from etl_cnpjs_spark.operators.dedup import (
        candidate_pairs,
        exact_jaccard,
        jaccard_pairs,
        minhash_band_keys,
    )
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD
    from etl_cnpjs_spark.plans.corpus import corpus_substr_clean

    targets = [(fixture_dir, {(4, 5)})]
    targets += [(d, None) for d in _shipped_sf_dirs()]
    for d, expect_pair in targets:
        clean = corpus_substr_clean(spark, d).select("doc_id", "clean_text")
        sh = (
            clean.select(
                "doc_id", shingles(tokens(F.col("clean_text"))).alias("sh")
            )
            .filter(F.size("sh") > 0)
            .localCheckpoint()
        )
        exact = {
            (int(r.i), int(r.j))
            for r in jaccard_pairs(sh, "doc_id", "sh", JACCARD_THRESHOLD).collect()
        }
        signed = sh.select(
            "doc_id", "sh", minhash_band_keys(F.col("sh"), 8, 2).alias("bk")
        ).localCheckpoint()
        lsh = {
            (int(r.i), int(r.j))
            for r in exact_jaccard(
                candidate_pairs(signed, "doc_id", "bk"), signed, "doc_id", "sh"
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .collect()
        }
        assert lsh == exact, f"{d}: LSH missed {exact - lsh} / invented {lsh - exact}"
        if expect_pair is not None:
            assert exact == expect_pair
