"""Property-based tests (hypothesis): engine operators vs independent
pure-Python implementations on GENERATED inputs — not just the fixed
testdata corpora. The reference has no tests at all (SURVEY.md §5.1);
this is the strongest correctness posture we can take locally: the
distributed implementation and a 10-line sequential one must agree on
arbitrary inputs, including the degenerate shapes (empty docs, all-equal
docs, singleton corpora) that fixed fixtures never cover.

Spark jobs are slow per example, so examples are few but each carries a
whole generated corpus.
"""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_cnpjs_spark.functions.text import shingles, tokens
from etl_cnpjs_spark.operators.dedup import jaccard_pairs
from etl_cnpjs_spark.operators.graph import connected_components

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=10)


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_jaccard_pairs_match_bruteforce(spark, docs):
    expected = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(docs), 2):
        sa, sb = _py_shingles(a), _py_shingles(b)
        if sa and sb and len(sa & sb) / len(sa | sb) >= 0.8:
            expected.add((i, j))
    sdf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    ).select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
    got = {
        (r.i, r.j)
        for r in jaccard_pairs(sdf, "doc_id", "sh", 0.8).collect()
    }
    assert got == expected


_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=15
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
def test_connected_components_match_union_find(spark, edges):
    nodes = list(range(10))
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize: component = min reachable node id
    expected = {}
    for v in nodes:
        root = find(v)
        expected.setdefault(root, []).append(v)
    truth = {v: min(members) for root, members in expected.items() for v in members}

    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in connected_components(ndf, edf).collect()
    }
    assert got == truth


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_minhash_lsh_precision_exact(spark, docs):
    """LSH banding + exact-Jaccard verify: every emitted pair must be a
    TRUE ≥-threshold pair (precision is deterministic — the verify step
    guarantees it — unlike recall, which is probabilistic in the
    banding). Checked against the pure-Python jaccard on generated
    corpora."""
    from etl_cnpjs_spark.operators.dedup import (
        candidate_pairs,
        exact_jaccard,
        minhash_band_keys,
    )

    truth = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(docs), 2):
        sa, sb = _py_shingles(a), _py_shingles(b)
        if sa and sb:
            truth[(i, j)] = len(sa & sb) / len(sa | sb)
    sdf = (
        spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
        .select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    signed = sdf.select(
        "doc_id", "sh", minhash_band_keys(F.col("sh"), bands=8, rows=2).alias("bk")
    )
    cands = candidate_pairs(signed, "doc_id", "bk")
    got = exact_jaccard(cands, signed, "doc_id", "sh").filter(F.col("jaccard") >= 0.8)
    for r in got.collect():
        assert truth.get((r.i, r.j), 0.0) >= 0.8, f"false positive: {(r.i, r.j)}"
        assert abs(truth[(r.i, r.j)] - r.jaccard) < 1e-12


_GAP_US = 3_000_000  # 3 s gap for generated data

_user_events = st.lists(
    st.integers(min_value=0, max_value=30),  # event seconds
    min_size=1,
    max_size=12,
)
_event_log = st.dictionaries(
    st.integers(min_value=0, max_value=3), _user_events, min_size=1, max_size=4
)


def _py_sessionize(times_s: list[int], gap_s: float) -> list[tuple[int, int, int]]:
    """Sequential reference: (n_events, start, end) per session."""
    out = []
    cur = []
    for t in sorted(times_s):
        if cur and t - cur[-1] > gap_s:
            out.append((len(cur), cur[0], cur[-1]))
            cur = []
        cur.append(t)
    out.append((len(cur), cur[0], cur[-1]))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(log=_event_log)
def test_sessionize_matches_sequential(spark, log):
    from etl_cnpjs_spark.operators.relational import sessionize

    rows = [
        (uid, i, t)
        for uid, times in log.items()
        for i, t in enumerate(times)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, secs long").select(
        "user_id", "event_id", F.timestamp_seconds("secs").alias("ts")
    )
    got: dict[int, list[tuple[int, int, int]]] = {}
    for r in sessionize(df, "user_id", "ts", "event_id", _GAP_US).collect():
        got.setdefault(r.user_id, []).append(
            (r.session_seq, r.n_events, int(r.session_start.timestamp()), int(r.session_end.timestamp()))
        )
    for uid, times in log.items():
        expected = _py_sessionize(times, _GAP_US / 1_000_000)
        sessions = sorted(got[uid])  # by session_seq == start order
        assert [s[1:] for s in sessions] == expected, (uid, times)


def _py_interleave(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=20,
    )
)
def test_zvalue_expr_matches_python_interleave(spark, pts):
    from etl_cnpjs_spark.plans.io import z_value_expr

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x long, y long"
    )
    got = {r.i: r.z for r in df.selectExpr("i", f"{z_value_expr('x', 'y')} AS z").collect()}
    for i, (x, y) in enumerate(pts):
        assert got[i] == _py_interleave(x, y), (x, y)


# --- CDC latest-wins merge -------------------------------------------------

_cdc_change = st.tuples(
    st.integers(min_value=0, max_value=9),     # key
    st.integers(min_value=1, max_value=5),     # version
    st.sampled_from(["U", "D"]),               # op
    st.sampled_from(["a", "b", "c"]),          # payload
)


def _py_cdc_apply(base: dict[int, str], feed: list[tuple]) -> dict[int, str]:
    """Sequential reference: latest version wins per key (ties broken by
    later feed position, matching the engine's (version, seq) order);
    'D' removes the key, 'U' replaces the payload."""
    winner: dict[int, tuple] = {}
    for seq, (key, version, op, payload) in enumerate(feed):
        if key not in winner or (version, seq) >= (winner[key][0], winner[key][1]):
            winner[key] = (version, seq, op, payload)
    out = dict(base)
    for key, (_, _, op, payload) in winner.items():
        if key not in base:
            continue
        if op == "D":
            out.pop(key, None)
        else:
            out[key] = payload
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(feed=st.lists(_cdc_change, min_size=0, max_size=20))
def test_cdc_latest_wins_matches_sequential(spark, feed):
    from pyspark.sql import Window as W

    base = {k: f"base{k}" for k in range(10)}
    b = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "key int, payload string"
    )
    if feed:
        f = spark.createDataFrame(
            [(k, ver, op, p, seq) for seq, (k, ver, op, p) in enumerate(feed)],
            "key int, version int, op string, payload string, seq int",
        )
        w = W.partitionBy("key").orderBy(F.desc("version"), F.desc("seq"))
        latest = (
            f.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("key", "op", F.col("payload").alias("new_payload"))
        )
        merged = (
            b.join(F.broadcast(latest), "key", "left")
            .filter(~F.col("op").eqNullSafe("D"))
            .select("key", F.coalesce("new_payload", "payload").alias("payload"))
        )
    else:
        merged = b
    got = {r.key: r.payload for r in merged.collect()}
    assert got == _py_cdc_apply(base, feed)


# --- sequence packing -------------------------------------------------------


def _py_pack(docs: list[tuple[int, str, int]], budget: int = 512):
    """Sequential reference for concat-then-chunk packing: per lang in
    doc_id order, a doc's sequence is floor(exclusive_prefix / budget)."""
    out: dict[tuple[str, int], list[tuple[int, int]]] = {}
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for doc_id, lang, n in sorted(docs):
        by_lang.setdefault(lang, []).append((doc_id, n))
    for lang, rows in by_lang.items():
        off = 0
        for doc_id, n in rows:
            seq = off // budget
            out.setdefault((lang, seq), []).append((doc_id, n))
            off += n
    return {
        k: (
            len(v),
            sum(n for _, n in v),
            min(d for d, _ in v),
            max(d for d, _ in v),
        )
        for k, v in out.items()
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.sampled_from(["en", "zh"]),
            st.integers(min_value=1, max_value=700),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_pack_report_matches_sequential(spark, docs):
    from etl_cnpjs_spark.plans.text import _PACK_BUDGET, _pack_report

    df = spark.createDataFrame(docs, "doc_id long, lang string, n_tokens long")
    got = {
        (r.lang, r.seq_id): (r.n_docs, r.seq_tokens, r.first_doc, r.last_doc)
        for r in _pack_report(df).collect()
    }
    assert got == _py_pack(docs, _PACK_BUDGET)


# --- SCD2 interval build ---------------------------------------------------

_scd2_feed = st.lists(
    st.tuples(
        st.integers(0, 3),            # key
        st.integers(0, 20),           # eff time (int stand-in)
        st.sampled_from(["a", "b", "c"]),  # attribute value
    ),
    min_size=1,
    max_size=20,
).map(lambda rows: list({(k, t): v for k, t, v in rows}.items()))
# dedupe (key, ts) — the operator's documented feed grain


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(feed=_scd2_feed)
def test_scd2_intervals_match_sequential(spark, feed):
    """scd2_intervals vs a 10-line sequential build: consecutive
    no-change records never open an interval, intervals chain
    (valid_to == next valid_from), and exactly the last change per key
    is current."""
    from etl_cnpjs_spark.operators.relational import scd2_intervals

    rows = [(k, t, v) for (k, t), v in feed]
    expected = set()
    bykey: dict[int, list[tuple[int, str]]] = {}
    for k, t, v in sorted(rows):
        bykey.setdefault(k, []).append((t, v))
    for k, seq in bykey.items():
        kept = []
        for t, v in sorted(seq):
            if not kept or kept[-1][1] != v:
                kept.append((t, v))
        for i, (t, v) in enumerate(kept):
            nxt = kept[i + 1][0] if i + 1 < len(kept) else None
            expected.add((k, v, t, nxt, nxt is None))

    sdf = spark.createDataFrame(rows, "k long, ts long, val string")
    got = {
        (r.k, r.val, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(sdf, "k", "ts", "val").collect()
    }
    assert got == expected


# --- URL canonicalization --------------------------------------------------

def _py_canonical(url: str) -> str:
    import re as _re

    m = _re.match(r"^([A-Za-z]+://[^/]+)", url)
    head = m.group(1).lower() if m else ""
    rest = _re.sub(r"^[A-Za-z]+://[^/]+", "", url)
    u = head + rest
    u = _re.sub(r"#.*$", "", u)
    u = _re.sub(r"^(https://[^/:]+):443([/?]|$)", r"\1\2", u)
    u = _re.sub(r"([?&])(?:utm_[^&#]*&)+", r"\1", u)
    u = _re.sub(r"[?&]utm_[^&#]*$", "", u)
    return u


_url = st.builds(
    lambda scheme, host, port, path, utm_mid, utm_mid2, decoy, qid, utm_end, frag: (
        scheme
        + "://"
        + host
        + (":443" if port else "")
        + "/"
        + path
        + "?"
        + ("utm_campaign=share&" if utm_mid else "")
        + ("utm_medium=rss&" if utm_mid2 else "")
        + ("xutm_keep=1&" if decoy else "")
        + "id="
        + str(qid)
        + ("&utm_source=feed" if utm_end else "")
        + ("#sec" if frag else "")
    ),
    scheme=st.sampled_from(["https", "HTTPS", "Https", "http"]),
    host=st.sampled_from(["WWW.A.Example.COM", "b.example.com", "C.Example.Org"]),
    port=st.booleans(),
    # "Mirror:443/x" pins the port rule to the authority (a literal
    # host:443 inside the path must survive canonicalization).
    path=st.sampled_from(["Articles/7", "x/Y/z", "Mirror:443/x", ""]),
    utm_mid=st.booleans(),
    utm_mid2=st.booleans(),
    decoy=st.booleans(),
    qid=st.integers(0, 9),
    utm_end=st.booleans(),
    frag=st.booleans(),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(urls=st.lists(_url, min_size=1, max_size=12, unique=True))
def test_url_canonicalization_matches_python_and_is_idempotent(spark, urls):
    from etl_cnpjs_spark.plans.dedup import canonical_url

    sdf = spark.createDataFrame([(u,) for u in urls], "url string")
    once = sdf.select(
        "url", canonical_url("url").alias("c1")
    )
    twice = once.select("url", "c1", canonical_url("c1").alias("c2"))
    got = {r.url: (r.c1, r.c2) for r in twice.collect()}
    for u in urls:
        expect = _py_canonical(u)
        assert got[u][0] == expect, f"{u}: {got[u][0]} != {expect}"
        assert got[u][1] == got[u][0], f"not idempotent on {u}"


# --- interval-overlap join (bin blocking) -----------------------------------

# Boundary-heavy intervals: starts cluster around bin edges (bin widths
# under test are 3 and 16), lengths run from 1 day to several bins wide.
_ivl = st.tuples(
    st.sampled_from([0, 1, 2, 3, 5, 15, 16, 17, 31, 32, 40, 47, 48]),
    st.sampled_from([1, 2, 3, 4, 16, 17, 33]),
).map(lambda t: (t[0], t[0] + t[1]))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a_ivls=st.lists(_ivl, min_size=1, max_size=8, unique=True),
    b_ivls=st.lists(_ivl, min_size=1, max_size=8, unique=True),
)
def test_interval_overlap_join_matches_bruteforce(spark, a_ivls, b_ivls):
    """Bin blocking is a physical rewrite: for ANY bin width and ANY
    interval lengths (including intervals spanning several bins and
    ends landing exactly on bin edges) the blocked join must equal the
    brute-force all-pairs overlap test on half-open intervals."""
    from etl_cnpjs_spark.operators.relational import interval_overlap_join

    a = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(a_ivls)],
        "a_id bigint, a_start bigint, a_end bigint",
    )
    b = spark.createDataFrame(
        [(j, s, e) for j, (s, e) in enumerate(b_ivls)],
        "b_id bigint, b_start bigint, b_end bigint",
    )
    want = {
        (i, j)
        for i, (as_, ae) in enumerate(a_ivls)
        for j, (bs, be) in enumerate(b_ivls)
        if as_ < be and bs < ae
    }
    for width in (3, 16):
        got = {
            (r.a_id, r.b_id)
            for r in interval_overlap_join(
                a, b, "a_start", "a_end", "b_start", "b_end", bin_width=width
            ).collect()
        }
        assert got == want, (
            f"width={width}: missed {want - got} / invented {got - want}"
        )


# --- exact Gram sufficient statistic ----------------------------------------

_vec = st.lists(
    st.floats(
        min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
    ),
    min_size=3,
    max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=st.lists(_vec, min_size=1, max_size=12))
def test_gram_partials_match_numpy(spark, vecs):
    """The Arrow-batched Gram build (per-batch int matmul → dim² partial
    sums) must equal a single-shot numpy Wᵀ@W on the same floor-quantized
    int64 matrix for ANY batching — quantized integer partials are exact
    and associative, so the distributed sum is order-insensitive. Run at
    tiny parallelism AND repartitioned to force multi-batch partials."""
    import numpy as np

    from etl_cnpjs_spark.operators.similarity import (
        EMB_Q,
        gram_upper_map_in_pandas,
    )

    W = np.floor(np.array(vecs, dtype=np.float64) * EMB_Q).astype(np.int64)
    C = W.T @ W
    want = {
        (i, j): int(C[i, j])
        for i in range(W.shape[1])
        for j in range(i, W.shape[1])
    }
    df = spark.createDataFrame(
        [([float(x) for x in v],) for v in vecs], "v array<double>"
    )
    for parts in (1, 4):
        got = {
            (r.i, r.j): r.gram_q
            for r in gram_upper_map_in_pandas(df.repartition(parts), "v").collect()
        }
        assert got == want, f"parts={parts}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_containment_pairs_match_bruteforce(spark, docs):
    """Directed containment (|src ∩ dst| / |src| ≥ τ) against an
    independent all-pairs implementation — pins the direction split and
    the denominator choice (|src|, not |union|)."""
    from etl_cnpjs_spark.operators.dedup import containment_pairs

    tau = 0.6
    expected = set()
    for (i, a), (j, b) in itertools.permutations(enumerate(docs), 2):
        sa, sb = _py_shingles(a), _py_shingles(b)
        if sa and sb and len(sa & sb) / len(sa) >= tau:
            expected.add((i, j))
    sdf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    ).select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
    got = {
        (r.src, r.dst)
        for r in containment_pairs(sdf, "doc_id", "sh", tau).collect()
    }
    assert got == expected


# --- round-6 operator kernels against pure-Python reference ----------------

_vals = st.lists(
    st.integers(min_value=0, max_value=50), min_size=2, max_size=30
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(starts=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40))
def test_two_level_prefix_sum_equals_sequential_sweep(spark, starts):
    """events_concurrency's decomposition on arbitrary interval sets:
    per-bucket local running sum + cumulated bucket carry-ins must equal
    the single sequential sweep, including end-before-start ties."""
    from pyspark.sql import Window

    iv = [(i, s, s + 10) for i, s in enumerate(starts)]  # [s, s+10)
    pts = [(s, 1, i) for i, s, _ in iv] + [(e, -1, i) for i, _, e in iv]
    # sequential reference: order by (t, d, id), running sum
    seq = []
    run = 0
    for t, d, i in sorted(pts):
        run += d
        seq.append((t, d, i, run))
    df = spark.createDataFrame(pts, "t long, d int, id long")
    bucket = (F.col("t") / 100).cast("bigint")
    w_local = (
        Window.partitionBy(bucket)
        .orderBy("t", "d", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("cc_local", F.sum("d").over(w_local)).withColumn(
        "__b", bucket
    )
    tot = df.groupBy(bucket.alias("__b")).agg(F.sum("d").alias("dt"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    carry = tot.withColumn("carry", F.coalesce(F.sum("dt").over(w_b), F.lit(0)))
    got = {
        (r.t, r.d, r.id): r.cc
        for r in local.join(carry.select("__b", "carry"), "__b")
        .select("t", "d", "id", (F.col("cc_local") + F.col("carry")).alias("cc"))
        .collect()
    }
    for t, d, i, run in seq:
        assert got[(t, d, i)] == run, (t, d, i)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=_vals)
def test_weighted_median_crossing_rule(spark, xs):
    """agg_weighted_median's crossing rule vs the sequential definition
    on arbitrary (value, weight) sets — including heavy ties, where the
    intra-run order must not matter."""
    from pyspark.sql import Window

    rows = [(int(v), int(v) % 7 + 1) for v in xs]  # weight 1..7
    # sequential: sort by value, first value where 2*cum >= total
    tot = sum(w for _, w in rows)
    cum = 0
    want = None
    for v, w in sorted(rows):
        cum += w
        if 2 * cum >= tot:
            want = v
            break
    df = spark.createDataFrame(rows, "v long, w long")
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    got = (
        df.select("v", F.sum("w").over(wc).alias("cw"), F.sum("w").over(wt).alias("tw"))
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .agg(F.min("v"))
        .collect()[0][0]
    )
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    dim_keys=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=15),
    fact_keys=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=40),
)
def test_bloom_prefilter_is_lossless(spark, dim_keys, fact_keys):
    """The Bloom prefilter contract on arbitrary key sets: whatever the
    false-positive pattern, prefilter + exact join ≡ plain join."""
    from etl_cnpjs_spark.plans.relational import _BLOOM_HASHES, _bloom_positions

    dim = spark.createDataFrame([(k,) for k in set(dim_keys)], "k long")
    fact = spark.createDataFrame(list(enumerate(fact_keys)), "i long, k long")
    bits = None
    for h in range(len(_BLOOM_HASHES)):
        p = dim.select(_bloom_positions(F.col("k"), h).alias("pos"))
        bits = p if bits is None else bits.unionByName(p)
    bits = bits.distinct()
    pruned = fact
    for h in range(len(_BLOOM_HASHES)):
        pruned = (
            pruned.withColumn("__pos", _bloom_positions(F.col("k"), h))
            .join(F.broadcast(bits.withColumnRenamed("pos", "__pos")), "__pos", "left_semi")
            .drop("__pos")
        )
    got = {(r.i, r.k) for r in pruned.join(dim, "k").select("i", "k").collect()}
    want = {(i, k) for i, k in enumerate(fact_keys) if k in set(dim_keys)}
    assert got == want


def test_kcore_peel_converged_at_registered_rounds(spark, sf_dir):
    """graph_kcore registers 'k-core after R rounds'; this pins that the
    peel has actually CONVERGED by round R at test scale (round R−1
    already equals round R), so the registered output IS the k-core."""
    import etl_cnpjs_spark.plans.graph as graph_plans

    def run(rounds: int):
        orig = graph_plans._KCORE_ROUNDS
        graph_plans._KCORE_ROUNDS = rounds
        try:
            return {
                tuple(r)
                for r in graph_plans.graph_kcore(spark, sf_dir).collect()
            }
        finally:
            graph_plans._KCORE_ROUNDS = orig

    assert run(graph_plans._KCORE_ROUNDS - 1) == run(graph_plans._KCORE_ROUNDS)


def test_skyline_matches_bruteforce_dominance(spark):
    """agg_skyline's window formulation (shared textually by plan and
    oracle) could hide a semantics bug that both engines reproduce —
    pin it against the DEFINITION: p is on the front iff no q with
    q ≥ p on both axes and q > p on at least one."""
    from etl_cnpjs_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        (r.o_orderkey, r.day, r.price)
        for r in QUERIES["agg_skyline"].fn(spark, sf).collect()
    }
    from etl_cnpjs_spark.catalog import table
    from pyspark.sql import functions as F

    pts = [
        (r.o_orderkey, r.day, r.price)
        for r in table(spark, sf, "orders")
        .select(
            "o_orderkey",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day"),
            F.col("o_totalprice").alias("price"),
        )
        .collect()
    ]
    # brute force over the maxima candidates only: any point dominated by
    # the global per-day max is out — prefilter to per-day maxima first
    # (dominance among day-maxima is the full front; ties kept)
    by_day = {}
    for k, d, p in pts:
        by_day.setdefault(d, []).append((k, d, p))
    cands = [
        t for d, rows in by_day.items()
        for t in rows
        if t[2] >= max(p for _, _, p in rows)
    ]
    front = set()
    for k, d, p in cands:
        dominated = any(
            (d2 >= d and p2 >= p and (d2 > d or p2 > p))
            for _, d2, p2 in cands
        )
        if not dominated:
            front.add((k, d, p))
    assert got == front


# --- round-6 session-3 operators ---------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ivls=st.lists(
        st.tuples(st.integers(0, 2000), st.integers(1, 3)),
        min_size=1,
        max_size=30,
    )
)
def test_interval_merge_islands_match_sequential(spark, ivls):
    """events_interval_merge's window algebra vs a 6-line sequential
    sweep: same islands (start, end, count) for one user on generated
    interval starts."""
    from pyspark.sql import Window as W

    PAD = 10
    rows = [(1, s, s + PAD, i) for i, (s, _) in enumerate(ivls)]
    # sequential oracle
    exp = []
    for _, s, f, _i in sorted(rows, key=lambda r: (r[1], r[3])):
        if exp and s <= exp[-1][1]:
            exp[-1][1] = max(exp[-1][1], f)
            exp[-1][2] += 1
        else:
            exp.append([s, f, 1])
    expected = {(s, f, n) for s, f, n in exp}

    df = spark.createDataFrame(rows, "user_id long, s long, f long, event_id long")
    ws = W.partitionBy("user_id").orderBy("s", "event_id")
    m = df.withColumn(
        "prev_max_f", F.max("f").over(ws.rowsBetween(W.unboundedPreceding, -1))
    ).withColumn(
        "new_island",
        F.when(F.col("prev_max_f").isNull() | (F.col("s") > F.col("prev_max_f")), 1)
        .otherwise(0),
    ).withColumn(
        "island", F.sum("new_island").over(ws.rowsBetween(W.unboundedPreceding, 0))
    )
    got = {
        (r["start_s"], r["end_s"], r["n"])
        for r in m.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("start_s"),
            F.max("f").alias("end_s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=40))
def test_ewma_fold_matches_sequential(spark, xs):
    """window_ewma's aggregate() fold vs a sequential Python EWMA over
    the same trailing-20 frame (α = 0.5, seeded by frame head)."""
    from pyspark.sql import Window as W

    WIN, A = 20, 0.5
    rows = [(i, float(x)) for i, x in enumerate(xs)]
    exp = []
    for i in range(len(xs)):
        frame = [x for _, x in rows[max(0, i - WIN + 1) : i + 1]]
        s = frame[0]
        for x in frame[1:]:
            s = s * (1 - A) + x * A
        exp.append(round(s, 4))

    df = spark.createDataFrame(rows, "i long, v double")
    ws = W.orderBy("i").rowsBetween(-(WIN - 1), 0)
    fold = (
        "aggregate(slice(frame, 2, greatest(size(frame) - 1, 0)), "
        "element_at(frame, 1), (acc, x) -> acc * 0.5D + x * 0.5D)"
    )
    got = [
        round(r["e"], 4)
        for r in df.select("i", F.collect_list("v").over(ws).alias("frame"))
        .select("i", F.expr(fold).alias("e"))
        .orderBy("i")
        .collect()
    ]
    assert got == exp


def test_pq_seed_vectors_have_zero_error(spark, sf_dir):
    """embedding_pq: the 4 codebook seed vectors must quantize to
    themselves — code_k == own vec_id and err_micro == 0."""
    from etl_cnpjs_spark.plans import QUERIES

    rows = (
        QUERIES["embedding_pq"].fn(spark, sf_dir).filter(F.col("vec_id") < 4).collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["err_micro"] == 0, r
        for k in range(8):
            assert r[f"code_{k}"] == r["vec_id"], r


def test_bootstrap_weights_mean_is_one(spark, sf_dir):
    """The Poisson(1) inverse-CDF thresholds must produce mean weight
    ≈ 1 over the real event_id domain (the property the bootstrap
    leans on: E[w] = 1 keeps replicate totals unbiased)."""
    from etl_cnpjs_spark.plans.agg import _BOOT_KNUTH, _BOOT_MOD, _boot_w

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = f"((event_id * {_BOOT_KNUTH} + 7 * 97) % {_BOOT_MOD})"
    m = ev.select(F.expr(_boot_w(h)).alias("w")).agg(
        F.avg("w").alias("mw"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert abs(m["mw"] - 1.0) < 0.05, m


def test_clustering_coeff_bounds_and_triangle_consistency(spark, sf_dir):
    """graph_clustering_coeff: lcc ∈ [0, 1e6]; Σ per-node triangle
    credits = 3 × the global triangle count key."""
    from etl_cnpjs_spark.plans import QUERIES

    from collections import defaultdict

    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    rows = QUERIES["graph_clustering_coeff"].fn(spark, sf_dir).collect()
    assert all(0 <= r["lcc_ppm"] <= 1_000_000 for r in rows)
    # brute-force per-node triangle count on the same (small) pair graph
    pairs = {(r["i"], r["j"]) for r in _exact_pairs(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for i, j in pairs:
        adj[i].add(j)
        adj[j].add(i)
    # each triangle {x<y<z} is enumerated exactly once: via its (x, y)
    # edge with closing vertex z (the j < k guard kills the other two)
    tri2 = defaultdict(int)
    for i, j in pairs:
        for k in adj[i] & adj[j]:
            if j < k:  # (i, j, k) enumerated once per closing pair
                for v in (i, j, k):
                    tri2[v] += 1
    got = {r["node_id"]: r["tri_cnt"] for r in rows if r["tri_cnt"] > 0}
    assert got == dict(tri2)


def test_modularity_sums_to_valid_range(spark, sf_dir):
    """Newman modularity over any partition lies in [-0.5, 1]; with
    connected components every edge is internal so Σ m_in = m and
    Q = 1 − Σ(D_c/2m)² ≥ 0 here."""
    from etl_cnpjs_spark.plans import QUERIES

    rows = QUERIES["graph_modularity"].fn(spark, sf_dir).collect()
    if not rows:
        return
    q = sum(r["q_ppm"] for r in rows) / 1e6
    assert -0.5 <= q <= 1.0, q
    m = sum(r["m_in"] for r in rows)
    assert all(r["m_in"] >= 1 for r in rows)
    assert q >= -1e-6 or m == 0


def _py_substr_spans(docs: list[str], k: int, min_grams: int = 2):
    """Brute-force ExactSubstr spans: global k-gram counts, per-doc
    duplicated positions, consecutive-run merge."""
    from collections import Counter

    grams: list[list[str]] = []
    for text in docs:
        toks = text.split()
        grams.append(
            [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        )
    counts = Counter(g for gs in grams for g in gs)
    expected = set()
    for doc_id, gs in enumerate(grams):
        dup_pos = [i + 1 for i, g in enumerate(gs) if counts[g] >= 2]
        run: list[int] = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                if len(run) >= min_grams:
                    expected.add(
                        (doc_id, run[0], run[-1] + k - 1,
                         run[-1] + k - run[0])
                    )
                run = []
            if p is not None:
                run.append(p)
    return expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_exact_substr_spans_match_bruteforce(spark, docs):
    """ExactSubstr spans (count window + gaps-and-islands) equal the
    sequential suffix-criterion implementation on arbitrary corpora,
    including all-duplicate, no-duplicate, and short-doc shapes."""
    from etl_cnpjs_spark.plans.text import exact_substr_spans

    k = 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in exact_substr_spans(df, k=k).collect()
    }
    assert got == _py_substr_spans(docs, k)


# --- graph keys on arbitrary graphs at arbitrary id magnitudes ---------------
#
# The r12 even/odd node encoding (parts 2k, suppliers 2k+1) claims
# exactness at ANY id magnitude — the property the r11 additive offset
# silently lost past its constant. These two tests replay the full
# plans against independent Python references on hypothesis-generated
# memberships whose ids span 11 orders of magnitude (1 .. 2^40),
# including ids straddling every power-of-ten boundary an additive
# offset could sit at. Plans read a generated lineitem parquet, same
# driver path as production.

_geo_ids = st.integers(min_value=1, max_value=2**40)
_memberships = st.lists(
    st.tuples(_geo_ids, _geo_ids), min_size=1, max_size=12
)


def _write_lineitem(tmpdir, memb):
    import pandas as pd

    pd.DataFrame(
        {
            "l_partkey": [p for p, _ in memb],
            "l_suppkey": [s for _, s in memb],
            "l_orderkey": range(len(memb)),
            "l_linenumber": [1] * len(memb),
        }
    ).to_parquet(f"{tmpdir}/lineitem.parquet", index=False)


def _evenodd_edges(memb):
    e = {(2 * p, 2 * s + 1) for p, s in memb}
    return sorted(e | {(v, u) for u, v in e})


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(memb=_memberships)
def test_pagerank_matches_python_at_any_id_magnitude(spark, memb, tmp_path_factory):
    """graph_pagerank == the sequential replay (exact 1e-15 bigint
    quantization arithmetic) on arbitrary bipartite memberships with
    ids up to 2^40."""
    import math

    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.graph import _PR_D, _PR_ITERS

    d = tmp_path_factory.mktemp("prprop")
    _write_lineitem(d, memb)
    e = _evenodd_edges(memb)
    nodes = sorted({u for u, _ in e})
    od = {n: sum(1 for u, _ in e if u == n) for n in nodes}
    nn = len(nodes)
    r = {n: 1.0 / nn for n in nodes}
    for _ in range(_PR_ITERS):
        s = {n: 0 for n in nodes}
        for u, v in e:
            s[v] += math.floor(r[u] / od[u] * 1e15 + 0.5)
        r = {n: 0.15 / nn + _PR_D * (float(s[n]) / 1e15) for n in nodes}
    expected = {n: math.floor(r[n] * 1e12 + 0.5) / 1e12 for n in nodes}

    got = {
        row.node: row.rank
        for row in QUERIES["graph_pagerank"].fn(spark, str(d)).collect()
    }
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(memb=_memberships)
def test_label_propagation_matches_python_at_any_id_magnitude(
    spark, memb, tmp_path_factory
):
    """graph_label_propagation == the sequential replay of the
    struct-max (cnt, -label) tie-break on arbitrary memberships with
    ids up to 2^40 — the magnitude regime where both the old additive
    offset AND the old packed-bigint score were silently wrong."""
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.graph import _LPA_ITERS

    d = tmp_path_factory.mktemp("lpaprop")
    _write_lineitem(d, memb)
    e = _evenodd_edges(memb)
    nodes = sorted({u for u, _ in e})
    lab = {n: n for n in nodes}
    for _ in range(_LPA_ITERS):
        cnt: dict[tuple, int] = {}
        for u, v in e:
            cnt[(v, lab[u])] = cnt.get((v, lab[u]), 0) + 1
        nxt = {}
        for (v, label), c in cnt.items():
            score = (c, -label)
            if v not in nxt or score > nxt[v][0]:
                nxt[v] = (score, label)
        lab = {n: nxt[n][1] for n in nodes}

    got = {
        r.node: r.label
        for r in QUERIES["graph_label_propagation"].fn(spark, str(d)).collect()
    }
    assert got == lab


# r13 (ADVICE r12 low #1): BFS and k-core adopted the same even/odd
# encoding — extend the id-magnitude fence to them so all four graph
# keys carry the property, not just pagerank/LPA.

# parts drawn with a bias toward multiples of 97 so the BFS seed set
# (encoded predicate u % 97 == 0, u = 2*partkey ⟺ partkey % 97 == 0)
# is usually non-empty — an always-empty seed set would fence nothing.
_bfs_parts = st.one_of(
    _geo_ids, st.integers(min_value=1, max_value=2**33).map(lambda x: x * 97)
)
_bfs_memberships = st.lists(
    st.tuples(_bfs_parts, _geo_ids), min_size=1, max_size=12
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(memb=_bfs_memberships)
def test_bfs_bounded_matches_python_at_any_id_magnitude(
    spark, memb, tmp_path_factory
):
    """graph_bfs_bounded == the sequential BFS replay on arbitrary
    bipartite memberships with ids up to ~2^40 — including ids past
    every power-of-ten boundary the pre-r13 additive 1e6 offset could
    alias at."""
    from etl_cnpjs_spark.plans import QUERIES
    from etl_cnpjs_spark.plans.graph import _BFS_HOPS

    d = tmp_path_factory.mktemp("bfsprop")
    _write_lineitem(d, memb)
    e = _evenodd_edges(memb)
    adj: dict[int, set] = {}
    for u, v in e:
        adj.setdefault(u, set()).add(v)
    seeds = {2 * p for p, _ in memb if (2 * p) % 97 == 0}
    levels = {n: 0 for n in seeds}
    frontier = set(seeds)
    for lvl in range(1, _BFS_HOPS + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in levels
        }
        for v in frontier:
            levels[v] = lvl

    got = {
        r.node: r.level
        for r in QUERIES["graph_bfs_bounded"].fn(spark, str(d)).collect()
    }
    assert got == levels


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(memb=_memberships)
def test_kcore_matches_python_at_any_id_magnitude(
    spark, memb, tmp_path_factory
):
    """graph_kcore (k patched to 2 so sparse hypothesis graphs keep a
    non-empty core — the registered k=8 would peel everything and
    fence nothing) == the sequential peel replay at ids up to 2^40."""
    import etl_cnpjs_spark.plans.graph as graph_plans

    d = tmp_path_factory.mktemp("kcoreprop")
    _write_lineitem(d, memb)
    e = set(_evenodd_edges(memb))
    k_test = 2
    for _ in range(graph_plans._KCORE_ROUNDS):
        deg: dict[int, int] = {}
        for u, _v in e:
            deg[u] = deg.get(u, 0) + 1
        surv = {n for n, c in deg.items() if c >= k_test}
        e = {(u, v) for u, v in e if u in surv and v in surv}
    expected: dict[int, int] = {}
    for u, _v in e:
        expected[u] = expected.get(u, 0) + 1

    orig = graph_plans._KCORE_K
    graph_plans._KCORE_K = k_test
    try:
        got = {
            r.node: r.core_degree
            for r in graph_plans.graph_kcore(spark, str(d)).collect()
        }
    finally:
        graph_plans._KCORE_K = orig
    assert got == expected
