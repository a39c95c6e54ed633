"""Independent-derivation pins for three intricate keys that previously
had only the generic oracle sweep: graph_cc_incremental (repair ==
full recompute, vs Python union-find), events_funnel_24h (deadline
semantics incl. the exact-24h boundary, vs a sequential Python funnel),
and text_collocations_pmi (vs Python PMI arithmetic). Each fixture is
hand-planted; neither the plan nor its DuckDB oracle is used to derive
the expected values."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from etl_cnpjs_spark.plans import QUERIES

# --- graph_cc_incremental vs union-find --------------------------------------


def _py_shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture()
def cc_dir(tmp_path):
    """Clusters of exact-duplicate texts (Jaccard 1 cliques) of sizes
    3 / 2 / 4, plus two unique docs (no pairs -> absent from output).
    The plan's hash split sends ~20% of clique edges through the delta
    path; the contract under test is split-independent: repaired
    labeling == full recompute."""
    texts = {}
    a = " ".join(f"a{i}" for i in range(12))
    b = " ".join(f"b{i}" for i in range(12))
    c = " ".join(f"c{i}" for i in range(12))
    for d in (1, 2, 3):
        texts[d] = a
    for d in (10, 11):
        texts[d] = b
    for d in (20, 21, 22, 23):
        texts[d] = c
    texts[30] = " ".join(f"u{i}" for i in range(12))
    texts[31] = " ".join(f"v{i}" for i in range(12))
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["fix"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_cc_incremental_equals_unionfind(spark, cc_dir):
    import itertools

    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD

    docs = pd.read_parquet(f"{cc_dir}/documents.parquet")
    ids = docs["doc_id"].tolist()
    sh = {i: _py_shingles(t) for i, t in zip(ids, docs["text"])}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for i, j in itertools.combinations(sorted(ids), 2):
        si, sj = sh[i], sh[j]
        if si and sj and len(si & sj) / len(si | sj) >= JACCARD_THRESHOLD:
            touched.update((i, j))
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
    expected = {i: find(i) for i in sorted(touched)}

    got = {
        r.node: r.component
        for r in QUERIES["graph_cc_incremental"].fn(spark, cc_dir).collect()
    }
    assert got == expected


# --- events_funnel_24h vs sequential Python ----------------------------------

_H = 3_600_000_000  # µs per hour
_WEEK = 7 * 86_400_000_000


@pytest.fixture()
def funnel_dir(tmp_path):
    """One user per deadline rule, split across two signup weeks:

    week 0: u1 converts (+1h) | u2 purchase at exactly +24h -> NOT
            converted (strict <) | u3 purchase 1h BEFORE signup -> not
    week 1: u4 two signups, purchase 23h after the FIRST -> converted
            (25h after would miss) | u6 signup only -> not
    u5 purchase with no signup -> excluded entirely.
    """
    rows = [
        (1, 10 * _H, "signup"),
        (1, 11 * _H, "purchase"),
        (2, 10 * _H, "signup"),
        (2, 10 * _H + 24 * _H, "purchase"),
        (3, 10 * _H, "signup"),
        (3, 9 * _H, "purchase"),
        (4, _WEEK + 1 * _H, "signup"),
        (4, _WEEK + 3 * _H, "signup"),
        (4, _WEEK + 24 * _H, "purchase"),  # 23h after FIRST signup
        (5, 5 * _H, "purchase"),
        (6, _WEEK + 2 * _H, "signup"),
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            "user_id": [r[0] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


FUNNEL_EXPECTED = {
    # week: (n_signups, n_converted, ppm)
    0: (3, 1, 1_000_000 // 3),
    1: (2, 1, 500_000),
}


def test_funnel24_matches_sequential(spark, funnel_dir):
    rows = QUERIES["events_funnel_24h"].fn(spark, funnel_dir).collect()
    got = {
        r.signup_week: (r.n_signups, r.n_converted_24h, r.conversion_ppm)
        for r in rows
    }
    assert got == FUNNEL_EXPECTED


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


# --- graph_hits vs Python power iteration -------------------------------------


def test_hits_matches_python(spark, tmp_path):
    """Tiny orders fixture -> the plan's synthetic edge derivation and
    3 max-normalized HITS rounds replayed in plain Python integer
    arithmetic (ppm bigints, no floats anywhere on either side)."""
    from etl_cnpjs_spark.plans.graph import _HITS_N, _HITS_ROUNDS

    keys = [1, 2, 3, 7, 501, 502, 1003, 1504, 999, 42]
    pd.DataFrame({"o_orderkey": keys}).to_parquet(
        tmp_path / "orders.parquet", index=False
    )

    edges = set()
    for k in keys:
        a = k % _HITS_N
        b = ((k // _HITS_N) * 13 + (k % _HITS_N) * 7 + 1) % _HITS_N
        if a != b:
            edges.add((a, b))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    h = {n: 1_000_000 for n in nodes}
    a_ = {n: 1_000_000 for n in nodes}
    for _ in range(_HITS_ROUNDS):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += h[u]
        mx = max(s.values())
        a_ = {n: s[n] * 1_000_000 // mx for n in nodes}
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[u] += a_[v]
        mx = max(s.values())
        h = {n: s[n] * 1_000_000 // mx for n in nodes}
    expected = {
        n: (h[n], a_[n]) for n in nodes if h[n] > 0 or a_[n] > 0
    }

    got = {
        r.node: (r.hub_ppm, r.auth_ppm)
        for r in QUERIES["graph_hits"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected


# --- graph_bipartite_project vs Python ----------------------------------------


def test_bipartite_project_matches_python(spark, tmp_path):
    """Hand-planted part->supplier memberships; the co-membership
    projection (shared-part counts, global top-K rank) recomputed with
    Python dict arithmetic."""
    import itertools

    memb = {
        100: [1, 2, 3],     # parts 100: suppliers 1,2,3 -> 3 pairs
        101: [1, 2],        # strengthens (1,2)
        102: [2, 3, 4],
        103: [5],           # singleton part: no pairs
        104: [1, 2],        # (1,2) again -> weight 3
    }
    rows = [(p, s) for p, ss in memb.items() for s in ss]
    rows.append((100, 1))  # duplicate membership row: must dedup first
    pd.DataFrame(
        {
            "l_partkey": [r[0] for r in rows],
            "l_suppkey": [r[1] for r in rows],
            "l_orderkey": range(len(rows)),
            "l_linenumber": [1] * len(rows),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)

    w: dict[tuple, int] = {}
    for ss in memb.values():
        for s1, s2 in itertools.combinations(sorted(set(ss)), 2):
            w[(s1, s2)] = w.get((s1, s2), 0) + 1
    ranked = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))
    expected = {
        (rk + 1, s1, s2): c for rk, ((s1, s2), c) in enumerate(ranked)
    }

    got = {
        (r.rk, r.s1, r.s2): r.shared_parts
        for r in QUERIES["graph_bipartite_project"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected


# --- synthetic-graph family: pagerank + bounded BFS vs Python -----------------


@pytest.fixture()
def li_graph_dir(tmp_path):
    """Hand-planted part->supplier memberships. Parts 97 and 194 are the
    BFS seeds (u % 97 == 0); the chain 97 -(s2)- part1 -(s3) gives BFS
    levels 3 deep; part 2/supplier 4 is an unreachable island."""
    memb = [
        (97, 1), (97, 2),
        (1, 2), (1, 3),
        (194, 5),
        (3, 5), (3, 6),
        (2, 4),
        (97, 1),  # duplicate membership row: plans must distinct first
    ]
    pd.DataFrame(
        {
            "l_partkey": [p for p, _ in memb],
            "l_suppkey": [s for _, s in memb],
            "l_orderkey": range(len(memb)),
            "l_linenumber": [1] * len(memb),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    return str(tmp_path), memb


def _undirected(memb, offset):
    e = {(p, offset + s) for p, s in memb}
    return e | {(v, u) for u, v in e}


def _undirected_evenodd(memb):
    # the r12 scale-safe node encoding: parts 2k (even), suppliers
    # 2k+1 (odd) — structurally disjoint at any SF
    e = {(2 * p, 2 * s + 1) for p, s in memb}
    return e | {(v, u) for u, v in e}


def test_bfs_bounded_matches_python(spark, li_graph_dir):
    from etl_cnpjs_spark.plans.graph import _BFS_HOPS

    d, memb = li_graph_dir
    e = _undirected_evenodd(memb)
    adj: dict[int, set] = {}
    for u, v in e:
        adj.setdefault(u, set()).add(v)
    # seed predicate is on the ENCODED id (u % 97 == 0, u = 2*partkey);
    # 2k ≡ 0 mod 97 ⟺ k ≡ 0 mod 97, so the same parts seed
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
        for r in QUERIES["graph_bfs_bounded"].fn(spark, d).collect()
    }
    assert got == levels


def test_pagerank_matches_python(spark, li_graph_dir):
    """Replays the exact arithmetic: per-edge contribution quantized to
    1e-15 bigints (floor), exact integer sums, double finish, final
    quantize at 1e-12 — identical op order, so equality is exact."""
    from etl_cnpjs_spark.plans.graph import _PR_D, _PR_ITERS

    d, memb = li_graph_dir
    e = sorted(_undirected_evenodd(memb))
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
        for row in QUERIES["graph_pagerank"].fn(spark, d).collect()
    }
    assert got == expected


def test_label_propagation_matches_python(spark, li_graph_dir):
    """Two synchronous LPA iterations replayed in Python with the same
    deterministic (count, smallest-label) mode rule (lexicographic max
    over (cnt, -label) — the r12 scale-exact tie-break)."""
    from etl_cnpjs_spark.plans.graph import _LPA_ITERS

    d, memb = li_graph_dir
    e = sorted(_undirected_evenodd(memb))
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
        for r in QUERIES["graph_label_propagation"].fn(spark, d).collect()
    }
    assert got == lab


def test_graph_keys_exact_under_offset_aliasing(spark, tmp_path):
    """Regression fence for the r11 node-id collision bug (r12 ADVICE
    high): graph_pagerank/LPA's halved-shuffle edge build —
    distinct(fwd) ∪ mirror(distinct(fwd)) — is only exact if the two
    node keyspaces are disjoint. The r11 additive supplier offset
    (+1e6) broke that silently once partkeys passed the constant
    (SF>5): the fixture below has memberships (1_000_001, 5) and
    (1_000_005, 1), so under the old encoding the forward edges were
    (1000001, 1000005) and (1000005, 1000001) — each the mirror of the
    other — duplicating edge and degree rows in the plan's union-all
    vs the oracle's UNION-distinct. The r12 even/odd encoding (parts 2k,
    suppliers 2k+1) is structurally disjoint at any id magnitude; this
    test pins plan ≡ full DuckDB oracle on the adversarial fixture for
    both keys, exact to the value hash."""
    import duckdb

    from compare import assert_frames_match
    from etl_cnpjs_spark.plans import QUERIES

    memb = [
        # the old-offset aliasing pair: part ids above 1e6 that mirror
        # onto each other's forward edges under p <-> 1e6 + s
        (1_000_001, 5),
        (1_000_005, 1),
        # a normal low-id neighborhood so degrees and labels mix
        (1, 1), (1, 2), (2, 2), (2, 3), (3, 3),
        (97, 1),
        (1_000_001, 2),  # bridges the high-id pair into the low block
    ]
    pd.DataFrame(
        {
            "l_partkey": [p for p, _ in memb],
            "l_suppkey": [s for _, s in memb],
            "l_orderkey": range(len(memb)),
            "l_linenumber": [1] * len(memb),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    for key in ("graph_pagerank", "graph_label_propagation"):
        q = QUERIES[key]
        got = q.fn(spark, str(tmp_path)).toPandas()
        want = con.execute(q.oracle).fetchdf()
        assert_frames_match(got, want, f"{key} offset-aliasing fixture")
    con.close()


def test_kcore_matches_python(spark, tmp_path):
    """4 peel rounds at k=8 replayed as Python set arithmetic on a
    graph built so peeling CASCADES: a 9-clique of parts on 9 shared
    suppliers survives, a pendant chain peels away round by round."""
    import itertools

    from etl_cnpjs_spark.plans.graph import _KCORE_K, _KCORE_ROUNDS

    # bipartite: parts 1..9 each use suppliers 1..9 -> bipartite
    # 9x9 biclique (degree 9 >= k=8 everywhere, survives). parts
    # 100..103 form a pendant path via single suppliers 100..104.
    memb = [(p, s) for p in range(1, 10) for s in range(1, 10)]
    memb += [(100, 100), (100, 101), (101, 101), (101, 102),
             (102, 102), (102, 103), (103, 103), (103, 104)]
    pd.DataFrame(
        {
            "l_partkey": [p for p, _ in memb],
            "l_suppkey": [s for _, s in memb],
            "l_orderkey": range(len(memb)),
            "l_linenumber": [1] * len(memb),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)

    e = _undirected_evenodd(memb)
    for _ in range(_KCORE_ROUNDS):
        deg: dict[int, int] = {}
        for u, _v in e:
            deg[u] = deg.get(u, 0) + 1
        surv = {n for n, c in deg.items() if c >= _KCORE_K}
        e = {(u, v) for u, v in e if u in surv and v in surv}
    expected: dict[int, int] = {}
    for u, _v in e:
        expected[u] = expected.get(u, 0) + 1

    got = {
        r.node: r.core_degree
        for r in QUERIES["graph_kcore"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected
