"""Benchmark inputs, made from the seed and cached under the checkout.

Two kinds of input:

- a CNPJ fixture drop (latin-1 ';' CSV shards) written by the package's own
  generator, ``etl_cnpjs_spark.cnpj.fixtures.generate``;
- a directory of parquet tables in the shape the registry plans read
  (TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``),
  written here with numpy so that no file outside the checkout is needed.

Each input lands in its own cache directory keyed by seed, sizes and a digest
of the code that generates it. A manifest lists every file with its size; a
cache hit re-checks that list and regenerates on any mismatch, so a deleted or
truncated shard is never trusted.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "_MANIFEST.json"


def _digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _verified(root: str) -> dict | None:
    """The manifest of `root` if every listed file exists with its size."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    for rel, size in manifest["files"].items():
        p = os.path.join(root, rel)
        if not os.path.isfile(p) or os.path.getsize(p) != size:
            return None
    return manifest


def _cached(root: str, build) -> tuple[dict, bool]:
    """Return (manifest, hit). On a miss, `build(work_dir)` writes the files
    and returns extra manifest fields; the directory is published by rename."""
    manifest = _verified(root)
    if manifest is not None:
        return manifest, True
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    work = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(root))
    try:
        t0 = time.perf_counter()
        extra = build(work)
        gen_s = time.perf_counter() - t0
        files = {}
        for dirpath, _dirs, names in os.walk(work):
            for n in names:
                p = os.path.join(dirpath, n)
                files[os.path.relpath(p, work)] = os.path.getsize(p)
        manifest = {"files": files, "gen_s": gen_s, **extra}
        with open(os.path.join(work, MANIFEST), "w") as f:
            json.dump(manifest, f)
        os.rename(work, root)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    return manifest, False


def cnpj_drop(cache_root: str, seed: int, sizes: tuple[int, int]) -> tuple[str, dict[str, list[str]], dict]:
    """Generate (or reuse) a CNPJ fixture drop; returns (root, {table: [paths]}, manifest)."""
    from etl_cnpjs_spark.cnpj import fixtures

    key = f"cnpj-s{seed}-{sizes[0]}x{sizes[1]}-{_digest(fixtures.__file__)}"
    root = os.path.join(cache_root, key)

    def build(work: str) -> dict:
        paths = fixtures.generate(work, seed=seed, n_empresas=sizes[0], n_estab=sizes[1])
        return {"tables": {t: [os.path.relpath(p, work) for p in ps] for t, ps in paths.items()}}

    manifest, hit = _cached(root, build)
    paths = {t: [os.path.join(root, p) for p in ps] for t, ps in manifest["tables"].items()}
    return root, paths, {**manifest, "hit": hit}


# --- registry tables ----------------------------------------------------------

# Row counts of the sf0.01 tables the registry is checked against DuckDB at.
# The generator follows their columns, domains, cardinalities and duplicate
# rate; perfbench/compare_inputs.py checks it against a reference directory,
# table by table and key by key.
MIX_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
# The directory name carries the scale: plans such as cnpj_flagship size
# their own inputs from it.
MIX_SF = "sf0.01"

_WORDS = (
    "a the data table row column key value join hash scan filter sort merge "
    "group agg window stream batch query spark order line part customer "
    "vector small big fast slow"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "pipe", "valve"]


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(work: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(work, f"{name}.parquet"), row_group_size=len(table) or 1)


def _mix_tables(work: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n = MIX_ROWS
    _write(work, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(work, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(work, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    })
    _write(work, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(work, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    no = n["orders"]
    _write(work, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 499999.99, no),
        "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(work, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2099.99, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    gaps = rng.integers(1, 520_000_000, ne)  # µs; ~30 days in total
    _write(work, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, ne)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    _write(work, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=[0.42, 0.145, 0.145, 0.145, 0.145])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    # Unit vectors in random directions; labels carry no cluster structure.
    labels = rng.integers(0, 10, nv)
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(work, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def mix_tables(cache_root: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the registry tables; returns (sf_dir, manifest)."""
    root = os.path.join(cache_root, f"mix-s{seed}-{_digest(__file__)}")

    def build(work: str) -> dict:
        os.makedirs(os.path.join(work, MIX_SF))
        _mix_tables(os.path.join(work, MIX_SF), seed)
        return {}

    manifest, hit = _cached(root, build)
    return os.path.join(root, MIX_SF), {**manifest, "hit": hit}
