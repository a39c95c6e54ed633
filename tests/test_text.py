"""Text-family plans (plans/text.py) checked against values derived in
pure Python from the raw parquet rows. Neither the Spark plan nor its
DuckDB oracle derives the expected value, so a regression that both
engines share is still caught.

- text_keywords: the broadcast n_docs idf.
- text_collocations_pmi: PMI arithmetic on a hand-counted fixture.
- doc_pack_greedy and doc_pack_greedy_sharded: hand-derived bins, and
  plain-Python sequential folds on random doc sizes.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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
