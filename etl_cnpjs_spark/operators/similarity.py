"""Vector similarity operators (north_star: similarity search) over
``array<float>`` embedding columns.

Cosine is a Catalyst higher-order expression: zip_with multiply +
sequential aggregate fold in element order, accumulating in double.
DuckDB's list_dot_product uses the same sequential double accumulation, so
scores are bit-identical across engines (validated empirically: 124,750
pairs, zero bit mismatches) — similarity plans carry *exact* oracles, no
tolerance.

Scale regimes:
- brute-force top-k: one broadcast of the query vector, one scan, a top-k
  heap (TakeOrderedAndProject). Linear, embarrassingly parallel — the
  correct baseline at any scale when k is small.
- pairwise ≥ τ: O(n²) — test-scale baseline only; the scale paths are the
  IVF variant here and MinHash-LSH (operators/dedup.py).
- IVF: coarse-quantize every vector to its nearest centroid (broadcast
  centroids), partition-prune probes to nprobe buckets — the classic
  inverted-file ANN layout expressed as DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def vec_double(vec: Column) -> Column:
    """Promote array<float> → array<double> so accumulation is all-double
    (and engine-identical)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in element order (bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


ALL_PAIRS_MAX_ROWS = 50_000  # above this, brute force is the wrong shape


def all_pairs_cosine_blocked(
    vecs,
    id_col: str,
    vec_col: str,
    tau: float,
    block_target: int = 256,
    max_rows: int = ALL_PAIRS_MAX_ROWS,
):
    """All-pairs cosine ≥ τ via block-cross-product + vectorized numpy
    scoring — the distributed shape of brute-force pairwise similarity.

    Plan: assign each vector to one of NB ≈ n/block_target blocks (id mod
    NB), collect each block to one row, cross-join block pairs (ba ≤ bb)
    — NB(NB+1)/2 tasks, each carrying two ~block_target×dim slabs — and
    score every cross pair inside mapInPandas with numpy. Work and memory
    per task are bounded by block_target²·dim regardless of corpus size;
    at cluster scale this is the standard blocked all-pairs layout (each
    vector is replicated NB times, tasks are embarrassingly parallel).

    Bit-identical to the Catalyst/DuckDB sequential fold: the dot product
    accumulates dimension-by-dimension in element order (64 vectorized
    adds), products and sums are individually IEEE-rounded, and
    cos = dot / (sqrt(na)·sqrt(nb)) applies the same op order — so the
    exact-oracle contract survives the numpy fast path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811 (local for clarity)

    n_rows = vecs.count()
    if max_rows is not None and n_rows > max_rows:
        raise ValueError(
            f"all_pairs_cosine_blocked: {n_rows} vectors exceeds the "
            f"{max_rows}-row guard. Brute-force all-pairs is the exact "
            "ORACLE baseline, not a scale path — its work grows O(n²) no "
            "matter how it is blocked. Use embedding_lsh_pairs "
            "(dedup_embedding_lsh: banded candidates + bucket-local "
            "verify) or the IVF ANN path (sim_topk_ivf) instead; to run "
            "brute force anyway (e.g. conformance on a sampled slice), "
            "pass max_rows=None explicitly."
        )
    nb = max(1, -(-n_rows // block_target))
    blocks = (
        vecs.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            (F.col(id_col) % nb).alias("__blk"),
        )
        .groupBy("__blk")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("__vs"))
    )
    a = blocks.select(F.col("__blk").alias("ba"), F.col("__vs").alias("va"))
    b = blocks.select(F.col("__blk").alias("bb"), F.col("__vs").alias("vb"))
    tasks = a.join(b, F.col("ba") <= F.col("bb"))

    def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # sequential fold over dimensions, vectorized over pairs
        acc = np.zeros((A.shape[0], B.shape[0]))
        for d in range(A.shape[1]):
            acc += np.multiply.outer(A[:, d], B[:, d])
        return acc

    def _seq_norm(A: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(A.shape[0])
        for d in range(A.shape[1]):
            acc += A[:, d] * A[:, d]
        return np.sqrt(acc)

    def score(batches):
        for pdf in batches:
            out_i, out_j, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ia = np.array([r["__id"] for r in row.va], dtype=np.int64)
                ib = np.array([r["__id"] for r in row.vb], dtype=np.int64)
                A = np.array([r["__v"] for r in row.va], dtype=np.float64)
                B = np.array([r["__v"] for r in row.vb], dtype=np.float64)
                cos = _seq_dot(A, B) / np.multiply.outer(_seq_norm(A), _seq_norm(B))
                mask = cos >= tau
                if row.ba == row.bb:
                    mask &= ia[:, None] < ib[None, :]
                ii, jj = np.nonzero(mask)
                lo = np.minimum(ia[ii], ib[jj])
                hi = np.maximum(ia[ii], ib[jj])
                out_i.append(lo)
                out_j.append(hi)
                out_c.append(cos[mask])
            yield pd.DataFrame(
                {
                    "i": np.concatenate(out_i) if out_i else np.array([], dtype=np.int64),
                    "j": np.concatenate(out_j) if out_j else np.array([], dtype=np.int64),
                    "cos_sim": np.concatenate(out_c) if out_c else np.array([]),
                }
            )

    return tasks.mapInPandas(score, "i bigint, j bigint, cos_sim double")


def knn_join_blocked(
    vecs,
    id_col: str,
    vec_col: str,
    k: int,
    block_target: int = 256,
    max_rows: int = ALL_PAIRS_MAX_ROWS,
):
    """k-NN self-join: every vector → its k nearest neighbors by cosine.
    Same blocked layout as all_pairs_cosine_blocked, but each task emits
    only the LOCAL top-k per query vector against the paired block
    (n·NB·k candidate rows total instead of n²), and a single window pass
    takes the global top-k. That two-stage shape (local heap → global
    merge) is what keeps the shuffle linear in n at cluster scale —
    building the kNN graph for embedding dedup/clustering without ever
    materializing the full pair matrix. Arithmetic is the same
    bit-deterministic sequential fold as the oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_rows = vecs.count()
    if max_rows is not None and n_rows > max_rows:
        raise ValueError(
            f"knn_join_blocked: {n_rows} vectors exceeds the {max_rows}-row "
            "guard. The blocked brute-force k-NN self-join scores O(n²) "
            "pairs — the exact baseline, not a scale path. Use sim_topk_ivf "
            "(centroid-pruned probes) for ANN at scale, or pass "
            "max_rows=None explicitly to run brute force anyway."
        )
    nb = max(1, -(-n_rows // block_target))
    blocks = (
        vecs.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            (F.col(id_col) % nb).alias("__blk"),
        )
        .groupBy("__blk")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("__vs"))
    )
    a = blocks.select(F.col("__blk").alias("ba"), F.col("__vs").alias("va"))
    b = blocks.select(F.col("__blk").alias("bb"), F.col("__vs").alias("vb"))
    tasks = a.join(b, F.col("ba") <= F.col("bb"))

    def _seq_dot(A, B):
        acc = np.zeros((A.shape[0], B.shape[0]))
        for d in range(A.shape[1]):
            acc += np.multiply.outer(A[:, d], B[:, d])
        return acc

    def _seq_norm(A):
        acc = np.zeros(A.shape[0])
        for d in range(A.shape[1]):
            acc += A[:, d] * A[:, d]
        return np.sqrt(acc)

    def _local_topk(ids_q, ids_c, cos):
        # per query row, local top-k column indices (score desc, id asc)
        kk = min(k, cos.shape[1])
        out_i, out_j, out_c = [], [], []
        order = np.lexsort((ids_c[None, :].repeat(cos.shape[0], 0), -cos), axis=1)[:, :kk]
        rows = np.arange(cos.shape[0])[:, None].repeat(kk, 1)
        sel = cos[rows, order]
        keep = sel > -np.inf
        out_i.append(ids_q[rows[keep]])
        out_j.append(ids_c[order[keep]])
        out_c.append(sel[keep])
        return out_i, out_j, out_c

    def score(batches):
        for pdf in batches:
            acc_i, acc_j, acc_c = [], [], []
            for row in pdf.itertuples(index=False):
                ia = np.array([r["__id"] for r in row.va], dtype=np.int64)
                ib = np.array([r["__id"] for r in row.vb], dtype=np.int64)
                A = np.array([r["__v"] for r in row.va], dtype=np.float64)
                B = np.array([r["__v"] for r in row.vb], dtype=np.float64)
                cos = _seq_dot(A, B) / np.multiply.outer(_seq_norm(A), _seq_norm(B))
                if row.ba == row.bb:
                    np.fill_diagonal(cos, -np.inf)  # never own neighbor
                    i1, j1, c1 = _local_topk(ia, ib, cos)
                    acc_i += i1; acc_j += j1; acc_c += c1
                else:
                    i1, j1, c1 = _local_topk(ia, ib, cos)
                    i2, j2, c2 = _local_topk(ib, ia, cos.T)
                    acc_i += i1 + i2; acc_j += j1 + j2; acc_c += c1 + c2
            yield pd.DataFrame(
                {
                    "i": np.concatenate(acc_i) if acc_i else np.array([], dtype=np.int64),
                    "j": np.concatenate(acc_j) if acc_j else np.array([], dtype=np.int64),
                    "cos_sim": np.concatenate(acc_c) if acc_c else np.array([]),
                }
            )

    cands = tasks.mapInPandas(score, "i bigint, j bigint, cos_sim double")
    w = Window.partitionBy("i").orderBy(F.desc("cos_sim"), F.asc("j"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("i", "j", "cos_sim", "rn")
    )


def hyperplane_signatures(
    vecs, id_col: str, vec_col: str, bands: int, rows: int, seed: int = 42
):
    """(id, v, bk) with bk = array of ``bands`` LSH band keys from
    random-hyperplane (SimHash-for-cosine) sign bits.

    Signature: H = bands·rows hyperplanes drawn N(0,1) from a fixed seed
    — every executor regenerates the identical matrix locally
    (RandomState(seed) is deterministic given (seed, dim, H)), so
    nothing is shipped and the signature is reproducible run-to-run.
    Bits are computed as one Arrow-batched numpy matmul per batch
    ((batch×dim)·(dim×H) — the vectorized fast path, no per-row Python),
    then packed r-bit slices become the band keys. Two vectors collide
    in band b iff all r sign bits agree there:
    P(bit agree) = 1 − θ/π for angle θ — the Charikar bound."""
    import numpy as np
    import pandas as pd

    def sign_batches(batches):
        planes = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"__id": [], "__v": [], "__bk": []})
                continue
            dim = len(pdf["__v"].iloc[0])
            if dim not in planes:
                planes[dim] = np.random.RandomState(seed).standard_normal(
                    (dim, bands * rows)
                )
            V = np.array(list(pdf["__v"]), dtype=np.float64)
            bits = (V @ planes[dim]) > 0  # n × H
            keys = np.zeros((len(pdf), bands), dtype=np.int64)
            for b in range(bands):
                sl = bits[:, b * rows : (b + 1) * rows]
                keys[:, b] = sl.dot(1 << np.arange(rows, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__v": pdf["__v"],
                    "__bk": list(keys),
                }
            )

    d = vecs.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    return d.mapInPandas(
        sign_batches, "__id bigint, __v array<double>, __bk array<bigint>"
    )


def salted_buckets(signed, bucket_cap: int):
    """Group exploded (band, key) bucket members into verify TASKS of
    bounded size — the hot-bucket guard for embedding_lsh_pairs.

    A hot bucket (low-entropy band slice) would otherwise collect_list
    an unbounded (id, vector) payload into ONE row/task. Instead: a
    keys-only pre-aggregate finds buckets over ``bucket_cap`` (tiny
    rows, map-side combined); those — by construction few — broadcast
    back onto the exploded members, which salt into G = ⌈m/cap⌉ hash
    groups; each member replicates to the G group-pair tasks it
    participates in (the triangle-join blocking scheme), so a task
    collects members of TWO groups: ≈ 2·cap vectors expected, and every
    i<j pair co-occurs in exactly one task — (min(gᵢ,gⱼ), max(gᵢ,gⱼ)).
    Cold buckets take G=1 and degenerate to the original single-task
    path with zero replication. The data shuffle count is unchanged
    (one, keyed by (band, key, ga, gb)); the pre-aggregate shuffles
    only (band, key, partial-count) triples.

    Each collected struct carries its member's group so the verifier
    scores a pair only in its owning task (same-group pairs would
    otherwise be re-scored by every task that sees that group), plus the
    member's band-key PREFIX (the keys of bands before this task's
    band) and the task's band index, so the verifier can apply the
    first-colliding-band exactly-once rule (score_salted_buckets).

    Payload cost of that rule (r10 ADVICE low #4): the prefix adds
    ~band/2 bigints per exploded member row on average, so the one data
    shuffle's key payload grows O(bands²/2) — ~128 bytes/row at
    32 bands, ~25% on top of a 64-dim float vector. That is the price
    of exactly-once scoring and it is the right trade everywhere
    measured (the removed re-scoring was 8× the distinct-candidate
    space at 32 bands, the payload is a constant factor on one
    shuffle); if bands grow much past 32, ship a per-band fixed-width
    hash of each earlier key instead — but note both sides of the
    equality must then use the SAME hashed comparison, and a hash
    collision silently drops a true pair, so this variant trades a
    recall epsilon for payload and is deliberately NOT the default."""
    exploded = signed.select(
        "__id", "__v", "__bk", F.posexplode("__bk").alias("__band", "__key")
    )
    hot = (
        exploded.groupBy("__band", "__key")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter(F.col("__m") > bucket_cap)
    )
    e = exploded.join(F.broadcast(hot), ["__band", "__key"], "left")
    num_groups = F.coalesce(
        F.ceil(F.col("__m") / bucket_cap).cast("int"), F.lit(1)
    )
    member = e.select(
        "__band",
        "__key",
        "__id",
        "__v",
        # only the bands BEFORE this task's band matter for the
        # first-colliding-band rule — ship that prefix, not the full
        # signature (empty for band 0, so bucket_cosine_pairs's single
        # degenerate band adds zero payload)
        F.slice("__bk", F.lit(1), "__band").alias("__bk"),
        F.pmod(F.xxhash64("__id"), num_groups).cast("int").alias("__g"),
        F.explode(F.sequence(F.lit(0), num_groups - 1)).alias("__x"),
    )
    return (
        member.select(
            "__band",
            "__key",
            F.least("__g", "__x").alias("ga"),  # plain names: itertuples
            F.greatest("__g", "__x").alias("gb"),  # mangles _-prefixes
            "__id",
            "__v",
            "__bk",
            "__g",
        )
        .groupBy("__band", "__key", "ga", "gb")
        .agg(F.collect_list(F.struct("__id", "__v", "__bk", "__g")).alias("vs"))
        .filter(F.size("vs") > 1)
        .select(F.col("__band").alias("band"), "ga", "gb", "vs")
    )


def embedding_lsh_pairs(
    vecs,
    id_col: str,
    vec_col: str,
    tau: float,
    bands: int,
    rows: int,
    seed: int = 42,
    bucket_cap: int = 1024,
):
    """Embedding near-dup pairs via hyperplane-LSH banding with
    bucket-local verification: signature → ONE data shuffle keyed by
    (band, key, salt-group pair) that collects each verify task's
    (id, vector) rows together → exact cosine scored INSIDE the task
    with a vectorized numpy outer fold → global distinct. The n² pair
    space is never materialized: shuffle volume is n·bands signature
    rows (each with one vector copy), and scoring cost is Σ bucket²,
    i.e. whatever selectivity the (bands, rows) operating point buys at
    the corpus's similarity gap. Verification makes output ⊆ exact
    pairs ≥ τ; recall is 1 − (1 − p^rows)^bands per true pair with
    p = 1 − arccos(τ)/π.

    Hot buckets are BOUNDED: any bucket over ``bucket_cap`` members is
    salted into group-pair tasks of ≈ 2·cap vectors with exact pair
    coverage (see salted_buckets) — no single task ever collects an
    unbounded payload, the standard cap-and-salt LSH practice.

    A pair colliding in several bands is scored ONCE, in its first
    colliding band (score_salted_buckets) — scoring cost is the
    distinct-candidate count, not Σ bucket² across bands."""
    import numpy as np
    import pandas as pd

    signed = hyperplane_signatures(
        vecs, id_col, vec_col, bands=bands, rows=rows, seed=seed
    ).localCheckpoint()  # two consumers (size pre-agg + data path): one signature job
    buckets = salted_buckets(signed, bucket_cap)
    return score_salted_buckets(buckets, tau)


def score_salted_buckets(buckets, tau: float):
    """Exact-cosine verify over salted_buckets output, each candidate
    pair scored EXACTLY ONCE: a pair colliding in several bands is
    scored only in its FIRST colliding band (each member carries its
    band-key PREFIX — the keys of bands before b, ~band/2 bigints per
    member on average, the payload cost documented in salted_buckets —
    so the task for band b drops any i<j pair that already agreed in
    some band b' < b: that pair was band b''s job),
    and only in its owning (ga, gb) salt task within that band. Before
    the first-band rule, a low-selectivity operating point (e.g. this
    corpus's τ=0.4, where ~every pair stays a candidate) re-scored each
    pair once per colliding band — Σ bucket² across ALL bands, 8× the
    distinct-candidate space at 32 bands (measured, r10) — and a
    distinct collapsed the duplicates after the fact. Now scoring cost
    is the distinct-candidate count itself, the number the (bands,
    rows) operating point actually buys.

    Scores stay bit-identical to the Catalyst/DuckDB expression fold:
    candidates are selected FIRST, then each surviving pair gets a
    gathered per-pair sequential-dimension fold (acc += V[i,d]·V[j,d],
    d ascending — the same FP op order per pair as the previous full
    outer-product matrix, which burned O(m²·dim) arithmetic and memory
    traffic on pairs the masks then threw away). Shared by
    embedding_lsh_pairs (buckets = LSH band keys) and
    bucket_cosine_pairs (buckets = any coarse cluster id — a single
    degenerate band, so the first-band rule is vacuous there)."""
    return _score_salted_buckets_raw(buckets, tau).distinct()


def _score_salted_buckets_raw(buckets, tau: float):
    """score_salted_buckets before its final distinct — exposed so tests
    can pin the exactly-once emission invariant (raw count == distinct
    count even on a corpus that collides in every band; losing the
    first-colliding-band mask would silently multiply verify work by
    the band-collision multiplicity while staying correct)."""
    import numpy as np
    import pandas as pd

    def _seq_norm(A):
        acc = np.zeros(A.shape[0])
        for d in range(A.shape[1]):
            acc += A[:, d] * A[:, d]
        return np.sqrt(acc)

    def score_bucket(batches):
        for pdf in batches:
            out_i, out_j, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.array([r["__id"] for r in row.vs], dtype=np.int64)
                V = np.array([r["__v"] for r in row.vs], dtype=np.float64)
                gs = np.array([r["__g"] for r in row.vs], dtype=np.int64)
                # score a pair only in its owning task: (min g, max g)
                # must equal this task's (ga, gb)
                owns = (np.minimum.outer(gs, gs) == row.ga) & (
                    np.maximum.outer(gs, gs) == row.gb
                )
                cand = owns & (ids[:, None] < ids[None, :])
                if row.band > 0 and cand.any():
                    # first-colliding-band rule: band-by-band to keep
                    # peak memory at one m×m bool, not m×m×bands
                    bk = np.array(
                        [r["__bk"] for r in row.vs], dtype=np.int64
                    )
                    for b in range(row.band):
                        col = bk[:, b]
                        cand &= col[:, None] != col[None, :]
                        if not cand.any():
                            break
                ii, jj = np.nonzero(cand)
                if len(ii) == 0:
                    continue
                nrm = _seq_norm(V)
                acc = np.zeros(len(ii))
                for d in range(V.shape[1]):
                    acc += V[ii, d] * V[jj, d]
                cos = acc / (nrm[ii] * nrm[jj])
                keep = cos >= tau
                out_i.append(ids[ii][keep])
                out_j.append(ids[jj][keep])
                out_c.append(cos[keep])
            yield pd.DataFrame(
                {
                    "i": np.concatenate(out_i) if out_i else np.array([], dtype=np.int64),
                    "j": np.concatenate(out_j) if out_j else np.array([], dtype=np.int64),
                    "cos_sim": np.concatenate(out_c) if out_c else np.array([]),
                }
            )

    return buckets.mapInPandas(
        score_bucket, "i bigint, j bigint, cos_sim double"
    )


def bucket_cosine_pairs(
    df, bucket_col: str, id_col: str, vec_col: str, tau: float, bucket_cap: int = 1024
):
    """Intra-bucket exact-cosine pairs (i<j, cos ≥ τ) for an ARBITRARY
    coarse bucketing (semantic-dedup cluster cells, spatial cells, any
    blocking key): reuses the LSH machinery with the bucket id as a
    single degenerate band key, so hot buckets salt into bounded
    group-pair tasks and scoring runs as vectorized numpy instead of
    per-pair interpreted expression folds (~4× on dedup_semantic at
    sf0.1). Scores stay bit-identical to the SQL fold."""
    signed = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.array(F.col(bucket_col).cast("bigint")).alias("__bk"),
    )
    return score_salted_buckets(salted_buckets(signed, bucket_cap), tau)


# DuckDB twins (same math, same accumulation order):


def sql_cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


# --- exact Gram / covariance sufficient statistics -------------------------

EMB_Q = 1_000_000  # component quantization: w = floor(v * 1e6) as int64

GRAM_PARTIAL_SCHEMA = "i int, j int, s long"


def gram_upper_map_in_pandas(df: DataFrame, vec_col: str = "v") -> DataFrame:
    """Exact Gram matrix (Σ w·wᵀ upper triangle) over quantized
    embeddings — the sufficient statistic for covariance / PCA /
    whitening. The scale shape: each Arrow batch computes ONE integer
    matmul (Wᵀ@W, vectorized BLAS) and emits a dim·(dim+1)/2-row
    partial; the only shuffle carries partials (2080 rows per batch for
    dim 64), never vectors — the classic partial-aggregation layout for
    moment matrices. Components quantize to floor(v·1e6) int64 first,
    so partial sums are exact, associative, and engine-portable (no
    float accumulation order anywhere); with |w| ≤ ~2·10⁶ the int64
    budget holds to ~10⁹ vectors per (i,j) cell — beyond that,
    hierarchical re-aggregation or decimal partials."""

    import pandas as pd  # noqa: F401 — shipped by value into the task

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            W = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * EMB_Q
            ).astype(np.int64)
            iu = np.triu_indices(W.shape[1])
            C = W.T @ W
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s": C[iu],
                }
            )

    from pyspark.sql import functions as _F

    return (
        df.mapInPandas(run, schema=GRAM_PARTIAL_SCHEMA)
        .groupBy("i", "j")
        .agg(_F.sum("s").alias("gram_q"))
    )
