"""corpus_build capstone: a fixture that exercises every stage (one
planted removal each — decontamination, near-dup dedup, temperature
mixture, multi-bin packing) with the expected report derived by an
INDEPENDENT pure-Python replay of the chain (no engine involved), then
asserted against BOTH the Spark plan and the DuckDB oracle."""

from __future__ import annotations

import itertools
import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_cnpjs_spark.plans import QUERIES
from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MIX_KNUTH, _MIX_MOD, _MOD
from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT, JACCARD_THRESHOLD
from etl_cnpjs_spark.plans.registry import MOD32, knuth32
from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH
from tests.conftest import SF_DIR, SMOKE_SF_DIR
from tests.test_properties import _ref_knuth, _xxh64_u64


def _is_eval(doc_id: int) -> bool:
    return (doc_id * _KNUTH) % _MOD < _KEEP


def _mix_hash(doc_id: int) -> int:
    return (doc_id * _MIX_KNUTH) % _MIX_MOD


def _pick(pred, start=0, n=1, taken=()):
    out, i = [], start
    while len(out) < n:
        if i not in taken and pred(i):
            out.append(i)
        i += 1
    return out


@pytest.fixture(scope="module")
def build_fixture(tmp_path_factory):
    """Docs (ids chosen by hash properties so every stage fires):
    - lang aa: E (eval) + L (train, identical text to E -> LEAKED),
      A + B (train, identical texts -> dedup keeps min(A,B)),
      C_live + C_drop (train, unique texts; C_drop's mix hash falls
      above the aa threshold -> MIXTURE-dropped, C_live survives),
      A and C_live sized 300 tokens each -> 2 bins at budget 512.
    - lang bb: D (train, unique) -> smallest lang, keeps 100%."""
    taken: set[int] = set()

    def grab(pred):
        i = _pick(pred, taken=taken)[0]
        taken.add(i)
        return i

    E = grab(_is_eval)
    # mixture threshold for aa will be floor(sqrt(1/4) * MOD): after
    # dedup aa keeps {A, B2, C_live, C_drop} = 4 docs, bb keeps {D} = 1
    thresh_aa = math.floor(math.sqrt(1.0 / 4.0) * _MIX_MOD)
    margin = _MIX_MOD // 50
    L = grab(lambda i: not _is_eval(i))
    A = grab(lambda i: not _is_eval(i) and _mix_hash(i) < thresh_aa - margin)
    B2 = grab(lambda i: not _is_eval(i))  # dedup pair, lower id (kept)
    B = grab(lambda i: i > B2 and not _is_eval(i))  # dedup pair, dropped
    C_live = grab(
        lambda i: not _is_eval(i) and _mix_hash(i) < thresh_aa - margin
    )
    C_drop = grab(
        lambda i: not _is_eval(i) and _mix_hash(i) > thresh_aa + margin
    )
    D = grab(lambda i: not _is_eval(i) and _mix_hash(i) < thresh_aa - margin)

    t_shared = " ".join(f"s{k}" for k in range(10))
    t_dup = " ".join(f"d{k}" for k in range(12))
    rows = [
        (E, "aa", t_shared),
        (L, "aa", t_shared),
        (A, "aa", " ".join(f"a{k}" for k in range(300))),
        (B2, "aa", t_dup),
        (B, "aa", t_dup),
        (C_live, "aa", " ".join(f"c{k}" for k in range(300))),
        (C_drop, "aa", " ".join(f"x{k}" for k in range(5))),
        (D, "bb", " ".join(f"b{k}" for k in range(7))),
    ]

    d = tmp_path_factory.mktemp("corpus_build_fix")
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "lang": [r[1] for r in rows],
            "source": ["fix"] * len(rows),
            "text": [r[2] for r in rows],
            "n_chars": [len(r[2]) for r in rows],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    ids = dict(E=E, L=L, A=A, B=B, B2=B2, C_live=C_live, C_drop=C_drop, D=D)
    return str(d), ids, rows


def _expected(ids, rows):
    """Pure-Python replay of the whole chain."""
    text = {r[0]: r[2] for r in rows}
    lang = {r[0]: r[1] for r in rows}
    ntok = {i: len(t.split()) for i, t in text.items()}

    train = [i for i in text if not _is_eval(i)]
    # pairs = identical texts (distinct token sets share nothing here)
    leaked = {
        t
        for t in train
        for o in text
        if o != t and text[o] == text[t] and _is_eval(o)
    }
    tr = [i for i in train if i not in leaked]
    # dedup: keep min id of each identical-text group within tr
    kept = [
        i
        for i in tr
        if all(text[o] != text[i] or o >= i for o in tr)
    ]
    # mixture
    by_lang: dict[str, list[int]] = {}
    for i in kept:
        by_lang.setdefault(lang[i], []).append(i)
    nmin = min(len(v) for v in by_lang.values())
    samp = [
        i
        for i in kept
        if _mix_hash(i)
        < math.floor(math.sqrt(nmin / len(by_lang[lang[i]])) * _MIX_MOD)
    ]
    # packing per (lang, shard)
    report = {}
    for lg in sorted({lang[i] for i in text}):
        n_train = sum(1 for i in train if lang[i] == lg)
        n_leaked = sum(1 for i in leaked if lang[i] == lg)
        n_kept = sum(1 for i in kept if lang[i] == lg)
        docs = sorted(i for i in samp if lang[i] == lg)
        n_seqs, packed = 0, 0
        for shard in sorted({i // GREEDY_SHARD_WIDTH for i in docs}):
            fill, bins = 0, 1
            members = [i for i in docs if i // GREEDY_SHARD_WIDTH == shard]
            for i in members:
                n = ntok[i]
                if fill + n > GREEDY_PACK_BUDGET and fill > 0:
                    bins, fill = bins + 1, n
                else:
                    fill += n
                packed += n
            n_seqs += bins if members else 0
        report[lg] = (n_train, n_leaked, n_kept, len(docs), n_seqs, packed)
    return report


def test_every_stage_fires(build_fixture):
    d, ids, rows = build_fixture
    exp = _expected(ids, rows)
    # the fixture really plants one removal per stage
    assert sum(v[1] for v in exp.values()) == 1  # decontamination
    aa = exp["aa"]
    assert aa[2] < aa[0] - aa[1]  # dedup dropped at least one
    assert aa[3] < aa[2]  # mixture dropped at least one
    assert exp["bb"][3] == exp["bb"][2]  # smallest lang keeps 100%
    assert aa[4] >= 2  # packing produced multiple sequences


def test_corpus_build_fixture_spark(spark, build_fixture):
    d, ids, rows = build_fixture
    exp = _expected(ids, rows)
    got = {
        r.lang: (
            r.n_train,
            r.n_leaked,
            r.n_dedup_kept,
            r.n_sampled,
            r.n_seqs,
            r.packed_tokens,
        )
        for r in QUERIES["corpus_build"].fn(spark, d).collect()
    }
    assert got == exp


def test_corpus_build_fixture_oracle(build_fixture):
    import duckdb

    d, ids, rows = build_fixture
    exp = _expected(ids, rows)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{d}/documents.parquet')"
    )
    got = {
        r[0]: tuple(r[1:])
        for r in con.execute(QUERIES["corpus_build"].oracle).fetchall()
    }
    assert got == exp


# --- corpus_decontaminate_incremental ----------------------------------------


def _h(doc_id: int) -> int:
    return (doc_id * _KNUTH) % _MOD


@pytest.fixture(scope="module")
def inc_fixture(tmp_path_factory):
    """Plants every delta-report outcome: a train doc leaked ONLY by the
    new band (newly), a train doc leaked by base eval AND paired with a
    delta doc (already, must NOT double-count as newly), a clean train
    doc, and the delta/base eval docs themselves."""
    from etl_cnpjs_spark.plans.corpus import _DELTA_BAND

    hi = _KEEP + _DELTA_BAND
    taken: set[int] = set()

    def grab(pred):
        i = 0
        while i in taken or not pred(i):
            i += 1
        taken.add(i)
        return i

    BASE = grab(lambda i: _h(i) < _KEEP)  # base-eval doc
    DELTA = grab(lambda i: _KEEP <= _h(i) < hi)  # new-benchmark doc
    DELTA2 = grab(lambda i: _KEEP <= _h(i) < hi)
    T_NEW = grab(lambda i: _h(i) >= hi)  # newly leaked (delta partner)
    T_OLD = grab(lambda i: _h(i) >= hi)  # already leaked (base + delta)
    T_CLEAN = grab(lambda i: _h(i) >= hi)

    t_new = " ".join(f"n{k}" for k in range(10))
    t_old = " ".join(f"o{k}" for k in range(10))
    rows = [
        (DELTA, t_new),  # pairs with T_NEW
        (T_NEW, t_new),
        (BASE, t_old),  # pairs with T_OLD (base leak)
        (DELTA2, t_old),  # ALSO pairs with T_OLD (must stay 'already')
        (T_OLD, t_old),
        (T_CLEAN, " ".join(f"c{k}" for k in range(8))),
    ]
    d = tmp_path_factory.mktemp("decon_inc_fix")
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "lang": ["aa"] * len(rows),
            "source": ["fix"] * len(rows),
            "text": [r[1] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_decontaminate_incremental_fixture(spark, inc_fixture):
    import duckdb

    expected = {"fix": (3, 2, 1, 1)}  # n_train, n_new_eval, already, newly
    got_s = {
        r.source: (r.n_train, r.n_new_eval, r.n_already_leaked, r.n_newly_leaked)
        for r in QUERIES["corpus_decontaminate_incremental"]
        .fn(spark, inc_fixture)
        .collect()
    }
    assert got_s == expected
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{inc_fixture}/documents.parquet')"
    )
    got_o = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            QUERIES["corpus_decontaminate_incremental"].oracle
        ).fetchall()
    }
    assert got_o == expected


# --- corpus_ingest_incremental ------------------------------------------------


@pytest.fixture(scope="module")
def ingest_fixture(tmp_path_factory):
    """Plants every ingest outcome: a delta doc pairing ONLY an eval
    corpus doc (leaked), one pairing ONLY a train corpus doc (dup), one
    pairing BOTH (must attribute to LEAKED — decontamination runs
    first), two clean 300-token docs in the SAME shard (packing makes
    2 bins at budget 512), and a shingle-empty 2-token doc in a second
    lang (too short to pair — must still be ingested and packed)."""
    taken: set[int] = set()

    def grab(pred, lo=0, hi=_INCR_SPLIT):
        i = lo
        while i in taken or not _pred_ok(pred, i) or i >= hi:
            i += 1
            assert i < hi, "fixture id space exhausted"
        taken.add(i)
        return i

    def _pred_ok(pred, i):
        return pred(i)

    CE = grab(_is_eval)  # corpus eval
    CE2 = grab(_is_eval)  # corpus eval (the 'both' partner)
    CT = grab(lambda i: not _is_eval(i))  # corpus train
    CT2 = grab(lambda i: not _is_eval(i))  # corpus train (the 'both' partner)

    t_leak = " ".join(f"l{k}" for k in range(10))
    t_dup = " ".join(f"d{k}" for k in range(12))
    t_both = " ".join(f"b{k}" for k in range(10))
    S = _INCR_SPLIT
    rows = [
        (CE, "aa", t_leak),
        (CE2, "aa", t_both),
        (CT, "aa", t_dup),
        (CT2, "aa", t_both),
        (S + 0, "aa", t_leak),  # D_LEAK
        (S + 1, "aa", t_dup),  # D_DUP
        (S + 2, "aa", t_both),  # D_BOTH -> leaked wins
        (S + 6, "aa", " ".join(f"p{k}" for k in range(300))),  # clean
        (S + 7, "aa", " ".join(f"q{k}" for k in range(300))),  # clean, same shard
        (S + 8, "bb", "y0 y1"),  # shingle-empty, still ingested
    ]
    d = tmp_path_factory.mktemp("ingest_fix")
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "lang": [r[1] for r in rows],
            "source": ["fix"] * len(rows),
            "text": [r[2] for r in rows],
            "n_chars": [len(r[2]) for r in rows],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_corpus_ingest_incremental_fixture(spark, ingest_fixture):
    """Both engines against the planted design: aa sees 5 delta docs —
    2 leaked (incl. the both-partner doc: attribution order), 1 dup,
    2 ingested 300-token docs in one shard -> 2 bins / 600 tokens; bb's
    2-token doc never enters the posting probe but is ingested and
    packs into 1 bin of 2 tokens. (S+6/S+7 share shard (S+6) DIV 64
    because _INCR_SPLIT=250 -> 256,257 sit in shard 4.)"""
    import duckdb

    expected = {
        "aa": (5, 2, 1, 2, 2, 600),
        "bb": (1, 0, 0, 1, 1, 2),
    }
    got_s = {
        r.lang: (
            r.n_delta,
            r.n_leaked,
            r.n_dup,
            r.n_ingested,
            r.n_seqs,
            r.packed_tokens,
        )
        for r in QUERIES["corpus_ingest_incremental"]
        .fn(spark, ingest_fixture)
        .collect()
    }
    assert got_s == expected
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{ingest_fixture}/documents.parquet')"
    )
    got_o = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            QUERIES["corpus_ingest_incremental"].oracle
        ).fetchall()
    }
    assert got_o == expected


# --- eval-split and hash-sample membership on the shipped fixtures ---------
#
# Expectations re-derived from the raw parquet keys with Python big-ints
# (the references in tests/test_properties.py), neither engine's formula.


def test_corpus_build_is_eval_matches_pure_python(spark):
    """corpus_build's 10% eval split membership, derived from the raw
    parquet doc_ids with Python big-ints only (no Spark expression, no
    DuckDB SQL) — pins the r9 knuth32 rewrite against an
    identical-on-both-engines regression."""
    ids = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id"]
    ).column("doc_id").to_pylist()
    expected = {i for i in ids if _ref_knuth(i) < _KEEP}

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    got = {
        r.doc_id
        for r in d.select("doc_id")
        .filter(knuth32(F.col("doc_id")) < F.lit(_KEEP))
        .collect()
    }
    assert got == expected
    assert 0 < len(expected) < len(ids)  # a real split, not degenerate


def test_sample_hash_xx_membership_matches_pure_python(spark):
    """The registered rows-only key's exact selection, re-derived from
    raw parquet keys through the from-spec XXH64 — the independent
    value evidence a rows-only check can't provide."""
    t = pq.read_table(
        os.path.join(SF_DIR, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
    )
    expected = set()
    for ok, ln in zip(
        t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist()
    ):
        if _xxh64_u64(ok % (1 << 64)) % MOD32 < _KEEP:
            expected.add((ok, ln))

    got = {
        (r.l_orderkey, r.l_linenumber)
        for r in QUERIES["sample_hash_xx"].fn(spark, SF_DIR).collect()
    }
    assert got == expected
    assert len(expected) > 0


def test_sample_hash_xx_rate_agrees_with_sample_hash(spark):
    """Both 10%-keep forms select ~the same fraction of orders (they
    hash the same key to the same [0, 2^32) ring with the same
    threshold) — the swap contract SCALE.md's honest-list #4 promises:
    changing the hash past 2^33 keys changes WHICH rows, not HOW MANY."""
    n_total = (
        QUERIES["sample_hash"].fn(spark, SF_DIR).sparkSession.read.parquet(
            os.path.join(SF_DIR, "lineitem.parquet")
        )
    ).count()
    n_knuth = QUERIES["sample_hash"].fn(spark, SF_DIR).count()
    n_xx = QUERIES["sample_hash_xx"].fn(spark, SF_DIR).count()
    assert abs(n_xx - n_knuth) / n_total < 0.02  # both ≈ 10% ± sampling noise


def test_corpus_ingest_incremental_matches_pure_python(spark):
    """Independent full replay of corpus_ingest_incremental on REAL
    sf0.001 documents: shingling, exact Jaccard screening against both
    corpus splits, outcome attribution, and the sharded greedy pack are
    re-derived in pure Python (sets + dicts, no engine), then compared
    to the Spark plan's report — the same independent-derivation
    discipline the other capstone keys carry."""
    sf_dir = SMOKE_SF_DIR
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "lang", "text"]
    ]

    def sh3(text: str) -> frozenset:
        toks = text.strip().split()
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )

    shingle = {}
    for r in docs.itertuples(index=False):
        s = sh3(r.text)
        if s:
            shingle[r.doc_id] = s

    def is_eval(i: int) -> bool:
        return (i * _KNUTH) % _MOD < _KEEP

    corpus_ids = [i for i in shingle if i < _INCR_SPLIT]
    # outcome per non-empty delta doc
    outcome: dict[int, str] = {}
    meta = {}
    for r in docs.itertuples(index=False):
        if r.doc_id < _INCR_SPLIT or not r.text.strip():
            continue
        meta[r.doc_id] = (r.lang, len(r.text.strip().split()))
        hit, leaked = False, False
        sd = shingle.get(r.doc_id)
        if sd:
            for c in corpus_ids:
                sc = shingle[c]
                inter = len(sd & sc)
                if inter and inter / (len(sd) + len(sc) - inter) >= JACCARD_THRESHOLD:
                    hit = True
                    leaked = leaked or is_eval(c)
        outcome[r.doc_id] = "leaked" if leaked else ("dup" if hit else "ingested")

    # sharded greedy pack of survivors + per-lang report
    langs = sorted({v[0] for v in meta.values()})
    expected = {}
    for lg in langs:
        ids = sorted(i for i in meta if meta[i][0] == lg)
        surv = [i for i in ids if outcome[i] == "ingested"]
        n_seqs = packed = 0
        for shard in sorted({i // GREEDY_SHARD_WIDTH for i in surv}):
            members = [i for i in surv if i // GREEDY_SHARD_WIDTH == shard]
            fill, bins = 0, 1
            for i in members:
                n = meta[i][1]
                if fill + n > GREEDY_PACK_BUDGET and fill > 0:
                    bins, fill = bins + 1, n
                else:
                    fill += n
                packed += n
            n_seqs += bins
        expected[lg] = (
            len(ids),
            sum(1 for i in ids if outcome[i] == "leaked"),
            sum(1 for i in ids if outcome[i] == "dup"),
            len(surv),
            n_seqs,
            packed,
        )

    got = {
        r.lang: (
            r.n_delta,
            r.n_leaked,
            r.n_dup,
            r.n_ingested,
            r.n_seqs,
            r.packed_tokens,
        )
        for r in QUERIES["corpus_ingest_incremental"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    # the fixture corpus must actually exercise the screen
    assert sum(v[1] + v[2] for v in expected.values()) > 0


# --- corpus_decontaminate ----------------------------------------------------


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


# --- property: decontaminate vs sequential Python ---------------------------

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
