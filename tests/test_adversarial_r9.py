"""Round-9 independent-derivation pins for the r8-ADVICE hash/shard
fixes and the sample_hash_xx registration.

1. registry.knuth32 / knuth32_sql (the full-int64-domain split-multiply
   form of `key * 2654435761 mod 2^32`) vs a pure-Python big-int
   reference — on BOTH engines, including keys past the naive form's
   ~3.47e9 overflow boundary and the int64 extremes.
2. The r8 ADVICE floor-division claim, adjudicated by measurement:
   Spark `DIV` and DuckDB `//` BOTH truncate toward zero on integer
   operands (DuckDB floors only on floats), so the sharded-pack oracle
   pair agrees over the full domain — pinned on negatives/extremes.
3. corpus_build's rewritten is_eval membership vs a pure-Python hash of
   the raw fixture doc_ids (neither engine's formula used to derive
   the expectation).
4. sample_hash_xx: Spark's xxhash64(bigint, seed 42) vs a from-scratch
   pure-Python XXH64 over the 8-byte little-endian key — bit-exact
   membership, so the registered rows-only key carries independent
   value evidence; plus the selection-rate agreement with sample_hash.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_cnpjs_spark.plans import QUERIES
from etl_cnpjs_spark.plans.registry import KNUTH32, MOD32, knuth32, knuth32_sql

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

# the naive form overflows int64 past ~2^63/K ≈ 3.47e9 — these ids
# cross that boundary, the 2^32 ring boundary, and the int64 extremes
EDGE_IDS = [
    0,
    1,
    63,
    64,
    12345,
    2_000_000_000,
    3_470_000_000,  # just past the naive overflow boundary
    4_294_967_295,
    4_294_967_296,
    10_000_000_000,  # the 100 TB design point (~1e10 docs)
    2**53,
    2**62,
    2**63 - 1,
    -1,
    -65,
    -(2**63),
    -(2**63) + 7,
]


def _ref_knuth(x: int) -> int:
    """Unbounded-integer reference: ((x mod 2^32) * K) mod 2^32."""
    return ((x % MOD32) * KNUTH32) % MOD32


def test_knuth32_full_domain_both_engines(spark):
    df = spark.createDataFrame([(i,) for i in EDGE_IDS], "doc_id long")
    got = {
        r.doc_id: r.h
        for r in df.select("doc_id", knuth32(F.col("doc_id")).alias("h")).collect()
    }
    assert got == {i: _ref_knuth(i) for i in EDGE_IDS}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in EDGE_IDS])
    rows = con.execute(
        f"SELECT doc_id, {knuth32_sql('doc_id')} AS h FROM t"
    ).fetchall()
    assert {i: h for i, h in rows} == {i: _ref_knuth(i) for i in EDGE_IDS}


def test_knuth32_equals_naive_form_on_safe_domain(spark):
    """On keys below the overflow boundary the widened form is
    bit-identical to the naive multiply — the guarantee that let the
    r9 rewrite swap corpus_build / corpus_decontaminate_incremental
    onto knuth32 without touching any shipped-fixture hash."""
    safe = [0, 1, 999, 60_000, 4_999_999, 3_400_000_000]
    df = spark.createDataFrame([(i,) for i in safe], "doc_id long")
    bad = df.select(
        "doc_id",
        knuth32(F.col("doc_id")).alias("wide"),
        ((F.col("doc_id") * F.lit(KNUTH32)) % F.lit(MOD32)).alias("naive"),
    ).filter(F.col("wide") != F.col("naive"))
    assert bad.count() == 0


def test_spark_div_matches_duckdb_intdiv(spark):
    """The r8 ADVICE flagged Spark `DIV` (truncating) vs DuckDB `//`
    as floor-division divergence on negatives. Measured: DuckDB `//`
    on BIGINT operands ALSO truncates toward zero (-1 // 64 = 0), so
    the doc_pack_greedy_sharded plan/oracle pair agrees over the full
    int64 domain, not just the non-negative fixture domain."""
    df = spark.createDataFrame([(i,) for i in EDGE_IDS], "doc_id long")
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", F.expr("doc_id DIV 64").alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in EDGE_IDS])
    duck = dict(con.execute("SELECT doc_id, doc_id // 64 FROM t").fetchall())
    assert got == duck
    # and both are trunc-toward-zero, NOT floor
    assert got[-1] == 0 and got[-65] == -1


def test_corpus_build_is_eval_matches_pure_python(spark):
    """corpus_build's 10% eval split membership, derived from the raw
    parquet doc_ids with Python big-ints only (no Spark expression, no
    DuckDB SQL) — pins the r9 knuth32 rewrite against an
    identical-on-both-engines regression."""
    from etl_cnpjs_spark.plans.corpus import _KEEP

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


# --- sample_hash_xx ------------------------------------------------------------

_XX_PRIME1 = 11400714785074694791  # 0x9E3779B185EBCA87
_XX_PRIME2 = 14029467366897019727
_XX_PRIME3 = 1609587929392839161
_XX_PRIME4 = 9650029242287828579
_XX_PRIME5 = 2870177450012600261
_U64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64_u64(value: int, seed: int = 42) -> int:
    """XXH64 of one 8-byte little-endian word — the published algorithm
    (Collet's xxHash spec, single-lane tail path for len = 8), written
    from the spec with Python big-ints. Matches Spark's
    XxHash64.hashLong contract: hash of a bigint column hashes the
    64-bit value with the session seed (Spark uses 42)."""
    h = (seed + _XX_PRIME5 + 8) & _U64
    k = value & _U64
    k = (k * _XX_PRIME2) & _U64
    k = _rotl(k, 31)
    k = (k * _XX_PRIME1) & _U64
    h ^= k
    h = (_rotl(h, 27) * _XX_PRIME1 + _XX_PRIME4) & _U64
    h ^= h >> 33
    h = (h * _XX_PRIME2) & _U64
    h ^= h >> 29
    h = (h * _XX_PRIME3) & _U64
    h ^= h >> 32
    return h


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def test_xxhash64_matches_pure_python_spec(spark):
    """Spark's xxhash64(bigint) vs the from-spec Python XXH64 — pins
    the exact hash values sample_hash_xx's membership derives from."""
    ids = EDGE_IDS
    df = spark.createDataFrame([(i,) for i in ids], "k long")
    got = {r.k: r.h for r in df.select("k", F.xxhash64("k").alias("h")).collect()}
    assert got == {i: _to_signed(_xxh64_u64(i % (1 << 64))) for i in ids}


def test_sample_hash_xx_membership_matches_pure_python(spark):
    """The registered rows-only key's exact selection, re-derived from
    raw parquet keys through the from-spec XXH64 — the independent
    value evidence a rows-only driver check can't provide."""
    from etl_cnpjs_spark.plans.corpus import _KEEP

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
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.dedup import _INCR_SPLIT, JACCARD_THRESHOLD
    from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MOD
    from etl_cnpjs_spark.plans.text import GREEDY_PACK_BUDGET, GREEDY_SHARD_WIDTH

    import pandas as pd

    sf_dir = "/root/testdata/sf0.001"
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
