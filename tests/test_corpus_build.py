"""corpus_build capstone: a fixture that exercises every stage (one
planted removal each — decontamination, near-dup dedup, temperature
mixture, multi-bin packing) with the expected report derived by an
INDEPENDENT pure-Python replay of the chain (no engine involved), then
asserted against BOTH the Spark plan and the DuckDB oracle."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from etl_cnpjs_spark.plans import QUERIES
from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MIX_KNUTH, _MIX_MOD, _MOD
from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH


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
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT

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
