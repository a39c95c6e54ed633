"""Round-7 batch 2: evaluation composites a curation pipeline runs
before training — benchmark decontamination and ANN index-quality
measurement.

`corpus_decontaminate` — train/eval split leakage report. The split is
the deterministic Knuth-hash 10% (sample_hash's idiom: rerun- and
engine-stable, no random()); a leaked eval doc is one with a near-dup
partner (exact-Jaccard >= 0.8 — the shared `pairs` definition every
dedup oracle uses) on the TRAIN side. This is the cross-split twin of
corpus_curate's within-corpus dedup: curation removes duplicates from
the corpus, decontamination removes eval docs whose content the model
will have seen in train (Lee et al. 2022 §6, the benchmark-overlap
protocol every LLM eval now runs).

`sim_recall_report` — per-query recall@k of the IVF index
(sim_topk_kmeans's label-seeded coarse quantizer) against the exact
brute-force top-k, over a fixed probe set of the NQ lowest vec_ids.
This is the index-quality gate a pipeline runs before trusting ANN
dedup/search at scale: recall is computed IN-PLAN (no collect), and
because the quantizer is the oracle-derivable one, the whole
eval — exact ranking, bucket probing, IVF ranking, overlap — carries a
full DuckDB hash oracle. The trained-quantizer twin keeps its recall
evidence in tests/test_blocked_ops.py::test_kmeans_ivf_recall_vs_exact.

Reference trace: none — the reference
(ETLCNPJFinalEmpresaEstabelecimentos.py) has no corpus/eval surface;
these extend SURVEY.md §2.2b per the r6 verdict's "composites users
actually chain" directive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import register

# --- corpus_decontaminate ----------------------------------------------------


def _decon_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS
    from etl_cnpjs_spark.plans.extended import _KEEP, _KNUTH, _MOD

    return (
        _SQL_PAIRS
        + f"""
  , ev AS (
      SELECT doc_id, source,
             ((doc_id * {_KNUTH}) % {_MOD} < {_KEEP}) AS is_eval
      FROM documents),
  sym AS (SELECT i AS e, t.j AS t FROM pairs t
          UNION ALL
          SELECT j AS e, t.i AS t FROM pairs t),
  leaked AS (
      SELECT DISTINCT s.e AS doc_id
      FROM sym s
      JOIN ev a ON s.e = a.doc_id
      JOIN ev b ON s.t = b.doc_id
      WHERE a.is_eval AND NOT b.is_eval)
  SELECT ev.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN ev.is_eval THEN 1 ELSE 0 END) AS BIGINT)
           AS n_eval,
         CAST(count(leaked.doc_id) AS BIGINT) AS n_leaked,
         CAST(sum(CASE WHEN ev.is_eval THEN 1 ELSE 0 END)
              - count(leaked.doc_id) AS BIGINT) AS n_clean_eval
  FROM ev LEFT JOIN leaked ON ev.doc_id = leaked.doc_id
  GROUP BY ev.source
"""
    )


@register(
    "corpus_decontaminate",
    oracle=_decon_oracle(),
    tags=("north_star", "dedup", "pipeline", "eval"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decontamination report for a deterministic 10%
    eval split: (source, n_docs, n_eval, n_leaked, n_clean_eval),
    where a leaked eval doc has an exact-Jaccard >= 0.8 near-dup in
    the train split.

    Shapes: the eval flag is a pure function of doc_id (Knuth
    multiplicative hash — computed scan-side on BOTH endpoints of a
    pair, so membership needs NO join against a split table). The
    pair frame is the memoized posting-join `_exact_pairs`; the
    leaked set is a projection+distinct of pairs whose endpoints'
    flags differ (eval e, train t) — broadcast back onto the
    documents scan for the per-source rollup. One document-table
    pass + the (tiny) pair-frame work. At 100 TB the pair frame
    comes from the banded MinHash-LSH path instead (the
    dedup_minhash adjudication); the report is unchanged. Docs too
    short to shingle (< 3 tokens) have no pairs and can never leak
    by this detector — the documented blind spot of n-gram-overlap
    decontamination; the fingerprint (exact-text) channel would
    catch them at production.
    Split-hash domain: this key keeps the naive `doc_id * K % 2^32`
    form under its documented doc_id < 2^33 precondition (SCALE.md
    honest-list #4); the full-domain exact form is registry.knuth32
    (bit-identical on this domain — corpus_build and
    corpus_decontaminate_incremental use it per the r8 ADVICE), and
    sample_hash_xx is the registered xxhash64 swap for >2^33 keys."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs
    from etl_cnpjs_spark.plans.extended import _KEEP, _KNUTH, _MOD

    def is_eval(col):
        return (col * F.lit(_KNUTH)) % F.lit(_MOD) < F.lit(_KEEP)

    d = table(spark, sf_dir, "documents")
    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    sym = pairs.select(F.col("i").alias("e"), F.col("j").alias("t")).unionAll(
        pairs.select(F.col("j").alias("e"), F.col("i").alias("t"))
    )
    leaked = (
        sym.filter(is_eval(F.col("e")) & ~is_eval(F.col("t")))
        .select(F.col("e").alias("doc_id"))
        .distinct()
        .withColumn("_leak", F.lit(1))
    )
    ev = F.when(is_eval(F.col("doc_id")), 1).otherwise(0)
    return (
        d.select("doc_id", "source", ev.alias("is_eval"))
        .join(F.broadcast(leaked), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_eval").cast("bigint").alias("n_eval"),
            F.count("_leak").cast("bigint").alias("n_leaked"),
            (F.sum("is_eval") - F.count("_leak")).cast("bigint").alias("n_clean_eval"),
        )
    )


# --- sim_recall_report -------------------------------------------------------

RECALL_NQ = 20  # probe-set size: the NQ lowest vec_ids query the index


def _recall_oracle() -> str:
    from etl_cnpjs_spark.operators.similarity import sql_cosine
    from etl_cnpjs_spark.plans.similarity import (
        _SQL_ASSIGN_CTES,
        _SQL_VECS,
        KMEANS_N_PROBE,
        TOP_K,
    )

    return f"""
    WITH n AS ({_SQL_VECS}),
    {_SQL_ASSIGN_CTES},
    q AS (SELECT vec_id AS qid, v AS qv FROM n ORDER BY vec_id
          LIMIT {RECALL_NQ}),
    ex AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, n.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {sql_cosine("n.v", "q.qv")} DESC, n.vec_id) AS rn
        FROM n, q WHERE n.vec_id <> q.qid) t
      WHERE rn <= {TOP_K}),
    pr AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {sql_cosine("q.qv", "c.cv")} DESC, c.cid) AS rn
        FROM c, q) t
      WHERE rn <= {KMEANS_N_PROBE}),
    iv AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                 ORDER BY {sql_cosine("a.v", "q.qv")} DESC, a.vec_id) AS rn
        FROM assign a JOIN pr p ON a.cid = p.cid
        JOIN q ON q.qid = p.qid
        WHERE a.vec_id <> p.qid) t
      WHERE rn <= {TOP_K})
    SELECT ex.qid,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(count(iv.vec_id) AS BIGINT) AS n_overlap,
           CAST(count(iv.vec_id) * 1000000 // {TOP_K} AS BIGINT)
             AS recall_micro
    FROM ex LEFT JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
    GROUP BY ex.qid
    """


@register(
    "sim_recall_report",
    oracle=_recall_oracle(),
    tags=("north_star", "similarity", "ann", "eval"),
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the label-seeded IVF against exact
    brute-force: (qid, k, n_overlap, recall_micro) for the RECALL_NQ
    lowest vec_ids.

    Shapes: the probe set and the centroid table are broadcast (NQ
    and |labels| rows); the exact side is ONE corpus scan scored
    against all NQ probes (cross of corpus x broadcast probes),
    ranked by a window on qid — the exchange carries corpus x NQ
    narrow rows, the documented cost of measuring exact ground truth
    on a SAMPLED probe set (how ANN recall is measured in production;
    never all-queries). The IVF side reuses the broadcast-centroid
    assignment pass and touches only probed buckets per query. Both
    rankings break cosine ties by vec_id and quantize nothing — every
    compared value is an exact integer count; recall_micro is an
    exact integer ratio (count * 1e6 / k).

    The trained-quantizer twin (sim_topk_kmeans_trained) keeps its
    recall evidence in tests/test_blocked_ops.py — this key makes the
    oracle-derivable index's quality a hash-checked, distributed
    query."""
    from etl_cnpjs_spark.operators.similarity import cosine
    from etl_cnpjs_spark.plans.similarity import (
        KMEANS_N_PROBE,
        TOP_K,
        _label_centroid_assignment,
        _vecs,
    )

    n = _vecs(spark, sf_dir)
    q = (
        n.orderBy("vec_id")
        .limit(RECALL_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    wq = Window.partitionBy("qid")

    ex = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("v"), F.col("qv"))), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )

    c, assign = _label_centroid_assignment(n)
    pr = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("qv"), F.col("cv"))), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") <= KMEANS_N_PROBE)
        .select("qid", "cid")
    )
    iv = (
        assign.join(F.broadcast(pr), "cid")
        .join(F.broadcast(q), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.desc(cosine(F.col("v"), F.col("qv"))), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("iv_id"), F.lit(1).alias("_hit"))
    )

    return (
        ex.join(
            iv,
            (ex["qid"] == iv["qid"]) & (ex["vec_id"] == iv["iv_id"]),
            "left",
        )
        .select(ex["qid"], "_hit")
        .groupBy("qid")
        .agg(
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.count("_hit").cast("bigint").alias("n_overlap"),
            F.expr(f"CAST(count(_hit) * 1000000 DIV {TOP_K} AS BIGINT)").alias(
                "recall_micro"
            ),
        )
    )


# --- doc_pack_greedy ---------------------------------------------------------
#
# The GREEDY packing variant doc_pack_sequences' docstring defers: close
# the current training sequence when the next document would overflow it
# (never split a document), instead of concat-then-chunk (which splits
# docs at every capacity boundary). This is the document-preserving
# packing finetuning/SFT pipelines use — a doc is an atomic unit, and
# the padding cost of closing bins early is the price of atomicity.
# The recurrence (bin, fill) -> next doc is inherently sequential PER
# LANGUAGE, so the Spark shape is ONE applyInPandas grouped-map pass
# (Arrow-batched, sorted by doc_id inside the group — the sequential
# fold a KeyedProcessFunction would run), and the oracle replays the
# identical recurrence as a DuckDB recursive CTE. Per-group memory is
# O(1) (two integers of state), but the group ROW COUNT is the whole
# language — see doc_pack_greedy_sharded below for the bounded-task
# production form and the explicit boundary-divergence contract.

GREEDY_PACK_BUDGET = 512  # same capacity as _PACK_BUDGET (comparability)


def _greedy_oracle() -> str:
    return rf"""
    WITH RECURSIVE t AS MATERIALIZED (
      -- MATERIALIZED: the recursive member joins t each iteration;
      -- without the hint DuckDB re-tokenizes the corpus per step
      -- (13x measured on the sharded twin at sf0.01)
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT lang, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN g.fill + t.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN g.bin + 1 ELSE g.bin END,
             CASE WHEN g.fill + t.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN t.n_tokens ELSE g.fill + t.n_tokens END
      FROM g JOIN t ON t.lang = g.lang AND t.rn = g.rn + 1
    )
    SELECT lang, bin AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM g GROUP BY 1, 2
    """


@register(
    "doc_pack_greedy",
    oracle=_greedy_oracle(),
    tags=("north_star", "pipeline", "grouped_map"),
)
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy document-preserving sequence packing per language:
    (lang, seq_id, n_docs, seq_tokens, first_doc, last_doc), where a
    sequence closes when the next doc would cross GREEDY_PACK_BUDGET
    tokens (an oversize doc gets its own sequence; docs never split).

    Shape: ONE lang-keyed exchange into an applyInPandas sequential
    fold (two ints of state per group, emitted per doc), then the
    rollup reuses the same partitioning. The concat-then-chunk twin
    (doc_pack_sequences) stays the pretraining form; this is the
    SFT/finetuning form where documents are atomic.

    SCALE CONTRACT (r7 verdict): the registered semantics is the
    GLOBAL per-language fold, which materializes one language's whole
    (doc_id, n_tokens) frame in a single pandas task — at 100 TB a
    dominant language is ~1e9-1e10 rows in one task (straggler/OOM).
    Greedy packing is NOT associatively composable: an incoming-fill
    change at a shard boundary can cascade bin boundaries through the
    rest of the shard, so no exact parallel stitch exists. The
    production path is doc_pack_greedy_sharded: (lang, shard) groups
    bounded by GREEDY_SHARD_WIDTH docs per task, stitched with
    per-shard bin offsets — it DIVERGES from this key exactly at shard
    boundaries (a bin force-closes at every shard edge; waste is
    bounded by n_shards*budget tokens, and every bin still satisfies
    the capacity/atomicity invariants). Pick one: this key's bins are
    reproducible against a sequential fold; the sharded key's bins are
    reproducible at any parallelism."""
    from etl_cnpjs_spark.functions.text import tokens
    from etl_cnpjs_spark.operators.packing import greedy_pack_bins

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens"))
    )

    packed = d.groupBy("lang").applyInPandas(
        greedy_pack_bins(GREEDY_PACK_BUDGET, col="seq_id"),
        "doc_id long, lang string, n_tokens int, seq_id long",
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- doc_pack_greedy_sharded -------------------------------------------------
#
# The bounded-task production form of doc_pack_greedy. Greedy packing's
# recurrence is order-sensitive and non-composable (see the contract in
# doc_pack_greedy's docstring), so the scale form CHANGES THE SEMANTICS
# EXPLICITLY rather than silently: docs shard into contiguous doc_id
# ranges of GREEDY_SHARD_WIDTH, each (lang, shard) packs independently
# from fill=0 (task row count bounded by the width, whatever the corpus
# size), and global sequence ids stitch by adding each shard's
# cumulative bin offset (the fn_stable_id partition-offset technique).
# A bin force-closes at every shard boundary — that is the entire
# divergence from the global fold, and it is bounded: at most one
# under-filled bin per (lang, shard), so wasted capacity <=
# n_shards * budget tokens. All capacity/atomicity invariants hold
# bin-by-bin. The oracle replays the IDENTICAL sharded recurrence
# (recursive CTE partitioned by (lang, shard) + the same offset window),
# so the hash check covers the stitch arithmetic too.

# Docs per shard — the per-task row bound AND the pandas-overhead
# amortization knob. 64 is the REGISTERED (oracle-checked) width so
# sf0.01's 500 docs exercise multiple shards and the stitch arithmetic
# is inside the hash check; production uses 1e5-1e6 (tools/stress_r8.py
# at fc69e2e measured the tradeoff at 10x: width 64 pays ~6x in per-group
# applyInPandas overhead, width 4096 is already flat at 1.25 s — group
# START cost, not the fold, is what a too-small width buys).
# Shard derivation domain (r8 ADVICE): shard = Spark `doc_id DIV 64`
# vs the oracle's DuckDB `doc_id // 64` — MEASURED to agree over the
# full int64 domain because BOTH truncate toward zero on integer
# operands (DuckDB `//` floors only on floats; `-1 // 64 = 0` on
# BIGINT). Pinned on negatives/extremes in
# tests/test_adversarial_r9.py::test_spark_div_matches_duckdb_intdiv;
# the shipped doc_id domain is non-negative, where trunc == floor
# anyway.
GREEDY_SHARD_WIDTH = 64


def _greedy_sharded_oracle() -> str:
    return rf"""
    WITH RECURSIVE t AS MATERIALIZED (
      -- MATERIALIZED: see _greedy_oracle (13x at sf0.01 here)
      SELECT doc_id, lang, doc_id // {GREEDY_SHARD_WIDTH} AS shard,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY lang, doc_id // {GREEDY_SHARD_WIDTH}
                                ORDER BY doc_id) AS rn
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT lang, shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.shard, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN g.fill + t.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN g.bin + 1 ELSE g.bin END,
             CASE WHEN g.fill + t.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN t.n_tokens ELSE g.fill + t.n_tokens END
      FROM g JOIN t ON t.lang = g.lang AND t.shard = g.shard
                   AND t.rn = g.rn + 1
    ),
    sb AS (
      SELECT lang, shard, max(bin) + 1 AS bins FROM g GROUP BY 1, 2),
    off AS (
      SELECT lang, shard,
             CAST(sum(bins) OVER (PARTITION BY lang ORDER BY shard)
                  - bins AS BIGINT) AS offset
      FROM sb)
    SELECT g.lang, g.bin + o.offset AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(g.n_tokens) AS BIGINT) AS seq_tokens,
           MIN(g.doc_id) AS first_doc, MAX(g.doc_id) AS last_doc
    FROM g JOIN off o ON g.lang = o.lang AND g.shard = o.shard
    GROUP BY 1, 2
    """


@register(
    "doc_pack_greedy_sharded",
    oracle=_greedy_sharded_oracle(),
    tags=("north_star", "pipeline", "grouped_map"),
)
def doc_pack_greedy_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy document-preserving packing, sharded for bounded tasks:
    same output schema as doc_pack_greedy, but the fold runs per
    (lang, shard = doc_id DIV GREEDY_SHARD_WIDTH) and global seq_ids
    stitch via per-shard cumulative bin offsets.

    Shape: one (lang, shard)-keyed exchange into the applyInPandas
    fold (task rows <= GREEDY_SHARD_WIDTH by construction); the
    per-shard bin-count rollup REUSES that partitioning (a prefix of
    the group key); the offset table is |shards| rows — one tiny
    window exchange — and broadcasts back onto the packed frame (no
    re-shuffle of the doc-grain data). Divergence vs the global fold
    is exactly the forced bin close at each shard edge (bounded waste;
    see doc_pack_greedy's SCALE CONTRACT)."""
    from etl_cnpjs_spark.functions.text import tokens
    from etl_cnpjs_spark.operators.packing import greedy_pack_bins

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "lang",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            F.expr(f"doc_id DIV {GREEDY_SHARD_WIDTH}").alias("shard"),
        )
    )

    packed = d.groupBy("lang", "shard").applyInPandas(
        greedy_pack_bins(GREEDY_PACK_BUDGET),
        "doc_id long, lang string, n_tokens int, shard long, bin long",
        # TWO consumers (the offset rollup below and the stitch join) —
        # without a barrier the pandas fold and the whole tokenize+shard
        # subtree under it execute once per consumer (the plan showed two
        # FlatMapGroupsInPandas nodes; r13 guide §1.2/§2.4).
    ).localCheckpoint()
    sb = packed.groupBy("lang", "shard").agg(
        (F.max("bin") + 1).cast("bigint").alias("bins")
    )
    off = sb.select(
        "lang",
        "shard",
        (
            F.sum("bins").over(
                Window.partitionBy("lang").orderBy("shard")
            )
            - F.col("bins")
        )
        .cast("bigint")
        .alias("offset"),
    )
    stitched = packed.join(F.broadcast(off), ["lang", "shard"]).select(
        "lang",
        (F.col("bin") + F.col("offset")).alias("seq_id"),
        "doc_id",
        "n_tokens",
    )
    return stitched.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
