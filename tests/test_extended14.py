"""corpus_decontaminate and sim_recall_report: behavior pinned on
independent fixtures (the r6 ADVICE blind-spot discipline — the
registered oracle and plan must ALSO match a derivation that shares no
spec with either)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from etl_cnpjs_spark.plans import QUERIES
from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MOD


def _is_eval(doc_id: int) -> bool:
    return (doc_id * _KNUTH) % _MOD < _KEEP


def _pick_ids(want_eval: int, want_train: int) -> tuple[list[int], list[int]]:
    ev, tr, i = [], [], 1
    while len(ev) < want_eval or len(tr) < want_train:
        if _is_eval(i):
            if len(ev) < want_eval:
                ev.append(i)
        elif len(tr) < want_train:
            tr.append(i)
        i += 1
    return ev, tr


@pytest.fixture()
def decon_dir(tmp_path):
    """Planted split-leakage cases. Doc ids are CHOSEN by evaluating the
    Knuth hash in plain Python (independent of both engines):

    - eval E0 duplicates train T0       -> E0 leaks.
    - eval E1 duplicates eval E2 ONLY   -> no leak (both eval).
    - train T1 duplicates train T2      -> no leak (train side only).
    - eval E3 unique                    -> clean.
    - train T3 unique                   -> nothing.

    Expected (single source 'fix'): n_docs=8... (4 eval, 4 train),
    n_eval=4, n_leaked=1 (E0), n_clean_eval=3.
    """
    ev, tr = _pick_ids(4, 4)
    dup_a = " ".join(f"a_{i}" for i in range(12))
    dup_b = " ".join(f"b_{i}" for i in range(12))
    dup_c = " ".join(f"c_{i}" for i in range(12))
    texts = {
        ev[0]: dup_a,
        tr[0]: dup_a,
        ev[1]: dup_b,
        ev[2]: dup_b,
        tr[1]: dup_c,
        tr[2]: dup_c,
        ev[3]: " ".join(f"u_{i}" for i in range(12)),
        tr[3]: " ".join(f"w_{i}" for i in range(12)),
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 8,
            "source": ["fix"] * 8,
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


DECON_EXPECTED = ("fix", 8, 4, 1, 3)


def test_decontaminate_fixture_spark(spark, decon_dir):
    rows = QUERIES["corpus_decontaminate"].fn(spark, decon_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    got = (r.source, r.n_docs, r.n_eval, r.n_leaked, r.n_clean_eval)
    assert got == DECON_EXPECTED, f"{got} != hand-derived {DECON_EXPECTED}"


def test_decontaminate_fixture_oracle(decon_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{decon_dir}/documents.parquet')"
    )
    rows = [tuple(r) for r in con.execute(QUERIES["corpus_decontaminate"].oracle).fetchall()]
    assert rows == [DECON_EXPECTED]


def test_decontaminate_eval_share_on_corpus(spark, sf_dir):
    """Sanity on the shipped corpus: the hash split lands near 10% and
    every reported count is internally consistent (leaked <= eval,
    clean = eval - leaked)."""
    rows = QUERIES["corpus_decontaminate"].fn(spark, sf_dir).collect()
    n_docs = sum(r.n_docs for r in rows)
    n_eval = sum(r.n_eval for r in rows)
    assert n_docs > 0
    assert 0.05 <= n_eval / n_docs <= 0.15
    for r in rows:
        assert 0 <= r.n_leaked <= r.n_eval
        assert r.n_clean_eval == r.n_eval - r.n_leaked


# --- sim_recall_report -------------------------------------------------------


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


# --- property: decontaminate vs sequential Python ---------------------------

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join)
_corpus14 = st.lists(
    st.tuples(_doc, st.sampled_from(["s1", "s2"])), min_size=1, max_size=10
)


def _py_shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus14)
def test_decontaminate_matches_sequential(spark, tmp_path_factory, docs):
    """Full-report equivalence vs an independent sequential derivation:
    hash split, exact-Jaccard >= 0.8 pairs, cross-split leak rule and
    the per-source rollup all recomputed in plain Python."""
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD

    leak = set()
    for (i, (a, _)), (j, (b, _)) in itertools.combinations(enumerate(docs), 2):
        sa, sb = _py_shingles(a), _py_shingles(b)
        if sa and sb and len(sa & sb) / len(sa | sb) >= JACCARD_THRESHOLD:
            for e, t in ((i, j), (j, i)):
                if _is_eval(e) and not _is_eval(t):
                    leak.add(e)
    expected = {}
    for i, (_, src) in enumerate(docs):
        n, ne, nl = expected.get(src, (0, 0, 0))
        expected[src] = (
            n + 1,
            ne + (1 if _is_eval(i) else 0),
            nl + (1 if i in leak else 0),
        )

    d = tmp_path_factory.mktemp("decon_prop")
    pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for t, _ in docs],
            "lang": ["en"] * len(docs),
            "source": [s for _, s in docs],
            "n_chars": [len(t) for t, _ in docs],
        }
    ).to_parquet(d / "documents.parquet", index=False)

    got = {
        r.source: (r.n_docs, r.n_eval, r.n_leaked)
        for r in QUERIES["corpus_decontaminate"].fn(spark, str(d)).collect()
    }
    assert got == expected


# --- doc_pack_greedy ---------------------------------------------------------


@pytest.fixture()
def pack_dir(tmp_path):
    """Token counts chosen around GREEDY_PACK_BUDGET=512 to exercise
    every greedy rule: fit, overflow-close, oversize-own-bin, and a
    second language. Hand-derived bins (budget 512):

    en: 300 -> bin0 | 400 (300+400>512) -> bin1 | 100 (500<=512) -> bin1
        | 600 (oversize) -> bin2 | 200 -> bin3
    pt: 512 (exact fit) -> bin0 | 1 (513>512) -> bin1
    """
    sizes = {1: 300, 2: 400, 3: 100, 4: 600, 5: 200}
    rows = [
        {"doc_id": i, "lang": "en", "text": " ".join(f"w{j}" for j in range(n))}
        for i, n in sizes.items()
    ]
    rows += [
        {"doc_id": 6, "lang": "pt", "text": " ".join(f"p{j}" for j in range(512))},
        {"doc_id": 7, "lang": "pt", "text": "solo"},
    ]
    df = pd.DataFrame(rows)
    df["source"] = "fix"
    df["n_chars"] = df["text"].str.len()
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


PACK_EXPECTED = {
    ("en", 0): (1, 300, 1, 1),
    ("en", 1): (2, 500, 2, 3),
    ("en", 2): (1, 600, 4, 4),
    ("en", 3): (1, 200, 5, 5),
    ("pt", 0): (1, 512, 6, 6),
    ("pt", 1): (1, 1, 7, 7),
}


def test_pack_greedy_fixture_spark(spark, pack_dir):
    rows = QUERIES["doc_pack_greedy"].fn(spark, pack_dir).collect()
    got = {
        (r.lang, r.seq_id): (r.n_docs, r.seq_tokens, r.first_doc, r.last_doc)
        for r in rows
    }
    assert got == PACK_EXPECTED


def test_pack_greedy_fixture_oracle(pack_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{pack_dir}/documents.parquet')"
    )
    rows = con.execute(QUERIES["doc_pack_greedy"].oracle).fetchall()
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    assert got == PACK_EXPECTED


def test_pack_greedy_never_splits_and_respects_budget(spark, sf_dir):
    """Structural invariants on the shipped corpus: every sequence
    except oversize singletons holds <= budget tokens; doc count and
    token totals reconcile with the corpus (docs are atomic)."""
    from pyspark.sql import functions as F

    from etl_cnpjs_spark.catalog import table
    from etl_cnpjs_spark.functions.text import tokens
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET

    rows = QUERIES["doc_pack_greedy"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.seq_tokens <= GREEDY_PACK_BUDGET or r.n_docs == 1
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.size(tokens(F.col("text"))).alias("n"))
        .agg(F.count(F.lit(1)).alias("nd"), F.sum("n").alias("nt"))
        .collect()[0]
    )
    assert sum(r.n_docs for r in rows) == d.nd
    assert sum(r.seq_tokens for r in rows) == d.nt


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=700), min_size=1, max_size=12
    )
)
def test_pack_greedy_matches_sequential(spark, tmp_path_factory, sizes):
    """Greedy recurrence vs a plain-Python sequential fold on random
    doc sizes (including oversize > budget docs)."""
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET

    expected = {}
    b, fill = 0, 0
    for i, n in enumerate(sizes):
        if fill + n > GREEDY_PACK_BUDGET and fill > 0:
            b, fill = b + 1, n
        else:
            fill += n
        nd, nt = expected.get(b, (0, 0))
        expected[b] = (nd + 1, nt + n)

    d = tmp_path_factory.mktemp("pack_prop")
    pd.DataFrame(
        {
            "doc_id": range(len(sizes)),
            "lang": ["xx"] * len(sizes),
            "source": ["fix"] * len(sizes),
            "text": [" ".join(f"w{j}" for j in range(n)) for n in sizes],
            "n_chars": [n * 3 for n in sizes],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    got = {
        r.seq_id: (r.n_docs, r.seq_tokens)
        for r in QUERIES["doc_pack_greedy"].fn(spark, str(d)).collect()
    }
    assert got == expected


# --- doc_pack_greedy_sharded invariants -------------------------------------


def test_pack_sharded_invariants_and_divergence_bound(spark, sf_dir):
    """The sharded twin keeps every bin-level invariant of the global
    fold (capacity, atomicity, corpus reconciliation) and its ONLY
    divergence is the forced close at shard boundaries: bins_sharded is
    between bins_global and bins_global + n_nonempty_shards, and no
    sharded bin spans a shard boundary."""
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH

    sharded = QUERIES["doc_pack_greedy_sharded"].fn(spark, sf_dir).collect()
    global_ = QUERIES["doc_pack_greedy"].fn(spark, sf_dir).collect()

    for r in sharded:
        # capacity unless an oversize singleton; docs atomic by schema
        assert r.seq_tokens <= GREEDY_PACK_BUDGET or r.n_docs == 1
        # a bin never spans a shard boundary (first/last doc same shard)
        assert r.first_doc // GREEDY_SHARD_WIDTH == r.last_doc // GREEDY_SHARD_WIDTH

    # same docs, same tokens — packing moves nothing in or out
    assert sum(r.n_docs for r in sharded) == sum(r.n_docs for r in global_)
    assert sum(r.seq_tokens for r in sharded) == sum(r.seq_tokens for r in global_)

    # per-lang bin-count divergence bounded by the nonempty shard count
    import collections

    gb = collections.Counter(r.lang for r in global_)
    sb = collections.Counter(r.lang for r in sharded)
    shards = collections.defaultdict(set)
    for r in sharded:
        shards[r.lang].add(r.first_doc // GREEDY_SHARD_WIDTH)
    for lang in gb:
        assert gb[lang] <= sb[lang] <= gb[lang] + len(shards[lang]), lang

    # seq_ids are 0..n-1 contiguous per lang (the offset stitch is tight)
    per_lang = collections.defaultdict(list)
    for r in sharded:
        per_lang[r.lang].append(r.seq_id)
    for lang, ids in per_lang.items():
        assert sorted(ids) == list(range(len(ids))), lang


def test_pack_sharded_equals_global_within_one_shard(spark, tmp_path_factory):
    """When every doc of a language fits in one shard, the sharded fold
    IS the global fold (offset 0, identical bins) — pins that the
    divergence comes only from boundaries, not from the stitch."""
    import pandas as pd

    d = tmp_path_factory.mktemp("pack_one_shard")
    sizes = [300, 400, 100, 600, 200, 512, 1]
    pd.DataFrame(
        {
            "doc_id": range(len(sizes)),
            "lang": ["xx"] * len(sizes),
            "source": ["fix"] * len(sizes),
            "text": [" ".join(f"w{j}" for j in range(n)) for n in sizes],
            "n_chars": [n * 3 for n in sizes],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    got_s = {
        (r.lang, r.seq_id): (r.n_docs, r.seq_tokens, r.first_doc, r.last_doc)
        for r in QUERIES["doc_pack_greedy_sharded"].fn(spark, str(d)).collect()
    }
    got_g = {
        (r.lang, r.seq_id): (r.n_docs, r.seq_tokens, r.first_doc, r.last_doc)
        for r in QUERIES["doc_pack_greedy"].fn(spark, str(d)).collect()
    }
    assert got_s == got_g


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=700), min_size=1, max_size=40
    ),
    gap=st.integers(min_value=1, max_value=37),
)
def test_pack_sharded_matches_independent_fold(
    spark, tmp_path_factory, sizes, gap
):
    """Sharded recurrence + offset stitch vs an INDEPENDENT plain-Python
    derivation on random doc sizes with random id gaps (so shards split
    at arbitrary densities, including empty shards). The Python twin
    re-implements sharding, per-shard fold, and the offset stitch from
    scratch — any divergence in shard assignment, fold order, or the
    cumulative-offset arithmetic breaks the equality."""
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH

    doc_ids = []
    i = 0
    for _ in sizes:
        doc_ids.append(i)
        i += gap

    # independent replay
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for did, n in zip(doc_ids, sizes):
        by_shard.setdefault(did // GREEDY_SHARD_WIDTH, []).append((did, n))
    expected: dict[int, tuple[int, int]] = {}
    offset = 0
    for shard in sorted(by_shard):
        b, fill = 0, 0
        for did, n in sorted(by_shard[shard]):
            if fill + n > GREEDY_PACK_BUDGET and fill > 0:
                b, fill = b + 1, n
            else:
                fill += n
            nd, nt = expected.get(offset + b, (0, 0))
            expected[offset + b] = (nd + 1, nt + n)
        offset += b + 1

    d = tmp_path_factory.mktemp("pack_sharded_prop")
    pd.DataFrame(
        {
            "doc_id": doc_ids,
            "lang": ["xx"] * len(sizes),
            "source": ["fix"] * len(sizes),
            "text": [" ".join(f"w{j}" for j in range(n)) for n in sizes],
            "n_chars": [n * 3 for n in sizes],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    got = {
        r.seq_id: (r.n_docs, r.seq_tokens)
        for r in QUERIES["doc_pack_greedy_sharded"].fn(spark, str(d)).collect()
    }
    assert got == expected
