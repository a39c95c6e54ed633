"""Similarity-family plans (plans/similarity.py) checked against an
independent derivation that shares no spec with either the Spark plan or
its DuckDB oracle.

- sim_recall_report: the whole IVF recall eval re-derived in numpy and
  plain Python, plus the one-bucket case where IVF equals exact search.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from etl_cnpjs_spark.plans import QUERIES


def _numpy_recall(emb: pd.DataFrame, nq: int, k: int, nprobe: int):
    """Independent re-derivation of the whole recall eval:
    label-mean centroids quantized floor(x*1e6+0.5)/1e6, cosine
    assignment (tie: lowest cid), per-query probe sets (tie: lowest
    cid), IVF top-k within probed buckets vs exact top-k (ties: lowest
    vec_id).

    Dot products use a PLAIN sequential Python loop, not numpy BLAS:
    operators/similarity.py::dot is a sequential element-order fold,
    and BLAS pairwise/SIMD summation can differ in the last ulp —
    enough to flip a rank-k boundary on a near-tie. A sequential loop
    over identical float64 inputs reproduces Spark's fold bit-exactly
    (the house identical-op-sequence discipline)."""
    ids = emb["vec_id"].to_numpy()
    V = np.array(emb["embedding"].tolist(), dtype=np.float64)
    labels = emb["label"].to_numpy()

    def sdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return sdot(a, b) / (math.sqrt(sdot(a, a)) * math.sqrt(sdot(b, b)))

    cids = sorted(set(labels.tolist()))
    # centroid means: quantization (not op order) is the cross-engine
    # contract for the group sums — same as the registered oracle
    cents = {
        c: np.floor(V[labels == c].mean(axis=0) * 1e6 + 0.5) / 1e6 for c in cids
    }
    assign = {}
    for vid, v in zip(ids, V):
        best = max(cids, key=lambda c: (cos(v, cents[c]), -c))
        assign[vid] = best

    qids = sorted(ids)[:nq]
    out = {}
    for qid in qids:
        qv = V[ids == qid][0]
        scored = sorted(
            ((cos(v, qv), -vid) for vid, v in zip(ids, V) if vid != qid),
            reverse=True,
        )
        exact = {-s[1] for s in scored[:k]}
        probes = set(
            sorted(cids, key=lambda c: (-cos(qv, cents[c]), c))[:nprobe]
        )
        ivf_scored = sorted(
            (
                (cos(v, qv), -vid)
                for vid, v in zip(ids, V)
                if vid != qid and assign[vid] in probes
            ),
            reverse=True,
        )
        ivf = {-s[1] for s in ivf_scored[:k]}
        out[qid] = len(exact & ivf)
    return out


def test_recall_report_matches_numpy(spark, sf_dir):
    from etl_cnpjs_spark.plans.similarity import KMEANS_N_PROBE, RECALL_NQ, TOP_K

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    expected = _numpy_recall(emb, RECALL_NQ, TOP_K, KMEANS_N_PROBE)

    rows = QUERIES["sim_recall_report"].fn(spark, sf_dir).collect()
    got = {r.qid: r.n_overlap for r in rows}
    assert got == expected
    for r in rows:
        assert r.recall_micro == r.n_overlap * 1_000_000 // TOP_K
        assert r.k == TOP_K


def test_recall_report_perfect_when_one_bucket(spark, tmp_path):
    """All vectors share one label -> one centroid -> the probe set IS
    the whole corpus -> IVF == exact, recall 1.0 for every query."""
    rng = np.random.RandomState(7)
    n, dim = 30, 8
    emb = pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [rng.randn(dim).tolist() for _ in range(n)],
            "label": [0] * n,
        }
    )
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    from etl_cnpjs_spark.plans.similarity import RECALL_NQ

    rows = QUERIES["sim_recall_report"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == RECALL_NQ
    assert all(r.recall_micro == 1_000_000 for r in rows)
