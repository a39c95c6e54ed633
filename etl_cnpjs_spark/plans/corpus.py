"""Corpus composites (corpus_*) and training-set sampling (sample_*): the
training-data side's twin of the TPC-H suite — whole curation pipelines
as ONE plan with ONE oracle-checked report, plus the sampling schemes
that turn a curated corpus into a training mix.

corpus_curate is the basic funnel a 100 TB text pipeline ships:

    documents
      → quality filter        (C4/Gopher rules — text_filter_pipeline)
      → exact dedup           (md5 content fingerprint, keep smallest id)
      → near-dup removal      (3-gram Jaccard ≥ 0.8, keep-first greedy)
      → per-(lang, source) funnel report + surviving token counts

Near-dup drop rule (deterministic, single-pass): drop doc j when ANY
pair (i, j), i < j, exists whose i survived exact dedup — even if i was
itself near-dup-dropped. Stricter than sequential keep-first streaming
greedy (which only compares against the kept set) and cheaper: one
anti-join against the pair list, no iteration. The transitive-closure
form is `dedup_canonical`; all three are real pipeline choices, this is
the cheapest. The other corpus_* keys chain further stages (span
cutting, semantic dedup, decontamination, mixtures, packing,
incremental ingest); each stage rule is replayed verbatim by its oracle.

Sampling (sample_*): hash, stratified, weighted, temperature, quota,
epoch-repeat, reservoir, negative and temporal-split samplers. Every
membership is a pure function of the row key (Knuth multiplicative hash
in exact int64, or md5-of-key order) — rerun- and engine-stable, never
random().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.functions.text import normalized_text, token_overlap_count, tokens
from etl_cnpjs_spark.plans.dedup import (
    _SQL_CLUSTER,
    _SQL_PAIRS,
    _SQL_SHINGLES,
    _exact_pairs,
    dedup_cluster,
)
from etl_cnpjs_spark.plans.registry import register
from etl_cnpjs_spark.plans.relational import _MOD32
from etl_cnpjs_spark.plans.text import (
    _BENCH_MOD,
    _MIN_DISTINCT_RATIO,
    _MIN_STOP_RATIO,
    _MIN_TOKENS,
    _PACK_BUDGET,
    _SQL_TOKS,
    _SUBSTR_SQL,
    STOPWORDS,
    _bench_ngram_frames,
    _pack_report,
    _sql_hits,
    text_exact_substr_spans,
)


# Knuth multiplicative hash; exact in bigint for keys < 2^33.
_KNUTH = 2654435761
_MOD = 4294967296  # 2^32
_KEEP = 429496730  # ≈ 10% of 2^32


@register(
    "sample_hash",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE (l_orderkey * {_KNUTH}) % {_MOD} < {_KEEP}
    """,
    tags=("sample", "north_star"),
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by multiplicative key hash — the
    reproducible train/held-out split primitive. Hashing the KEY (not
    random()) keeps the sample stable across runs/engines and keeps all
    rows of one order together. Pure scan+filter: no shuffle, pushes
    nothing to parquet (the predicate is computed) but prunes columns."""
    l = table(spark, sf_dir, "lineitem")
    return l.select("l_orderkey", "l_linenumber", "l_quantity").filter(
        (F.col("l_orderkey") * _KNUTH) % _MOD < _KEEP
    )


@register(
    "sample_hash_xx",
    oracle=None,  # DuckDB has no XXH64-seed-42 builtin: rows-only driver
    # check; the VALUE evidence is tests/test_adversarial_r9.py, which
    # re-derives the exact membership through a from-spec pure-Python
    # XXH64 (and pins Spark's xxhash64 bit-exactly on edge keys)
    tags=("sample", "north_star"),
)
def sample_hash_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_hash's full-key-domain twin (SCALE.md honest-list #4 made
    a registered key per the r8 verdict): the Knuth multiplicative form
    is exact int64 only below ~2^33 keys, INSIDE the 100 TB design
    point, so past that the split primitive swaps to xxhash64 (Spark's
    builtin 64-bit xxHash, seed 42 — a published, engine-portable
    algorithm) reduced onto the same [0, 2^32) ring with the same 10%
    threshold. Same plan shape as sample_hash: pure scan+filter, no
    shuffle, column-pruned; the hash is JVM-side whole-stage-codegen'd
    (one multiply-rotate round per row — no Python). Selection-rate
    agreement with sample_hash at test SF is pinned in
    tests/test_adversarial_r9.py."""
    l = table(spark, sf_dir, "lineitem")
    return l.select("l_orderkey", "l_linenumber", "l_quantity").filter(
        F.pmod(F.xxhash64("l_orderkey"), F.lit(_MOD)) < _KEEP
    )


# Per-stratum keep thresholds over the 2^32 hash space: downsample the
# dominant language (en ≈ 44% of the corpus), keep mid-size strata at
# half, keep the tail whole — the corpus-rebalancing shape of a
# training-data pipeline. Thresholds are exact powers-of-two fractions,
# so both engines compare against identical bigints.
_STRAT_EN = _MOD // 4  # en: keep 25%
_STRAT_MID = _MOD // 2  # zh/es: keep 50%


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE (doc_id * {_KNUTH}) % {_MOD} <
          CASE WHEN lang = 'en' THEN {_STRAT_EN}
               WHEN lang IN ('zh', 'es') THEN {_STRAT_MID}
               ELSE {_MOD} END
    """,
    tags=("sample", "north_star"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: per-class keep rates applied via
    the same multiplicative key hash as sample_hash — the corpus
    rebalancing step of a training pipeline (downsample the dominant
    language, keep the rare ones). Keying on doc_id (not random()) makes
    the split reproducible across runs AND engines, and the per-stratum
    rate is just a CASE over the threshold — one scan, no shuffle, no
    per-stratum passes. Spark's own sampleBy() is the seeded-random
    equivalent; hash-based stratification is preferred at 100 TB because
    re-runs and backfills select the same rows."""
    d = table(spark, sf_dir, "documents")
    threshold = (
        F.when(F.col("lang") == "en", F.lit(_STRAT_EN))
        .when(F.col("lang").isin("zh", "es"), F.lit(_STRAT_MID))
        .otherwise(F.lit(_MOD))
    )
    return d.select("doc_id", "lang", "n_chars").filter(
        (F.col("doc_id") * _KNUTH) % _MOD < threshold
    )


_RESERVOIR_K = 100


@register(
    "sample_reservoir",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT {_RESERVOIR_K}
    """,
    tags=("sample", "north_star", "topk"),
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-of-n sample — the distributed reservoir:
    rank every row by a key hash, keep the global k smallest. Hash-rank
    gives exactly what reservoir sampling gives (each key equally likely
    in the k-set, since md5 order is independent of key order) PLUS the
    properties a pipeline actually needs and random reservoirs lack:
    rerun-stable, engine-portable, and MERGEABLE — the k smallest of a
    union is computable from per-partition k-smallest, which is also
    exactly how Spark executes it (TakeOrderedAndProject: per-partition
    local top-k, then a k-row merge — no global sort, no full-data
    single-partition exchange; plan-asserted). Growing the corpus only
    displaces ranks, so yesterday's sample of unchanged data is a
    subset-stable basis for incremental re-sampling. sample_hash is the
    RATE form (keep p%), this is the COUNT form (keep exactly k) — a
    fixed eval-set draw. md5-of-key-string is bit-identical in both
    engines, and the (digest, key) order is total, so the k-set — not
    just its size — carries a full hash oracle."""
    o = table(spark, sf_dir, "orders", parallel=True)
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.md5(F.col("o_orderkey").cast("string")), "o_orderkey")
        .limit(_RESERVOIR_K)
    )


# --- sample_negative ----------------------------------------------------------
#
# Negative sampling for training pairs (retrieval / recommendation):
# positives = distinct (customer, part) interactions from their orders;
# per user, 3 deterministic pseudo-random candidate items from the
# multiplicative hash stream; candidates that collide with a positive
# are dropped by anti-join. Hash-derived (not random()) so the sample
# is reproducible across runs, engines, and retries — the property the
# sample_hash/sample_reservoir family establishes.

_NEG_K = 3
_NEG_STEP = 40503  # odd 16-bit mix constant, coprime with 2^32


@register(
    "sample_negative",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    users AS (SELECT DISTINCT user_id FROM pos),
    np AS (SELECT COUNT(*) AS n_items FROM part),
    cand AS (
      SELECT u.user_id,
             CAST(j.j AS BIGINT) AS neg_rank,
             CAST((u.user_id * {_KNUTH} + (j.j + 1) * {_NEG_STEP})
                  % (SELECT n_items FROM np) AS BIGINT) AS item
      FROM users u CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j)
    SELECT c.user_id, c.neg_rank, c.item AS neg_partkey
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM pos p
                      WHERE p.user_id = c.user_id AND p.item = c.item)
    """,
    tags=("sample", "ml", "corpus"),
)
def sample_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user deterministic negative samples. Shapes: the positives
    distinct is the one real shuffle (user, item); candidates explode
    3× the USER list (already user-grain, tiny); the anti-join hits the
    positives on the same (user, item) keys. The item-count modulus is
    a 1-row broadcast scalar, so the candidate formula adapts to any
    SF without a hardcoded catalog size. Part keys are 0-based
    contiguous (0..n-1) in this dataset, so hash % n is a valid key."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    pos = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    users = pos.select("user_id").distinct()
    n_items = p.agg(F.count("*").alias("n_items"))
    cand = (
        users.join(F.broadcast(n_items))
        .select(
            "user_id",
            F.explode(F.array(*[F.lit(j) for j in range(_NEG_K)])).alias("j"),
            "n_items",
        )
        .select(
            "user_id",
            F.col("j").cast("long").alias("neg_rank"),
            ((F.col("user_id") * _KNUTH + (F.col("j") + 1) * _NEG_STEP) % F.col("n_items"))
            .cast("long")
            .alias("item"),
        )
    )
    return cand.join(pos, ["user_id", "item"], "left_anti").select(
        "user_id", "neg_rank", F.col("item").alias("neg_partkey")
    )


# --- sample_quota_per_key ---------------------------------------------------
#
# Per-source document quotas — the data-recipe primitive that caps any
# single domain/source's contribution to a training mix (the "no more
# than N docs per domain" rule every curation pipeline applies after
# dedup). Selection order inside a source is a Knuth multiplicative
# hash of doc_id (pseudo-random but exact int64 in both engines), so
# the quota takes an unbiased slice instead of the lowest ids.

_QUOTA = 15


@register(
    "sample_quota_per_key",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * {_KNUTH}) % {_MOD32}, doc_id) AS slot
      FROM documents)
    SELECT doc_id, source, CAST(slot AS BIGINT) AS slot
    FROM r WHERE slot <= {_QUOTA}
    """,
    tags=("sample", "corpus", "quota"),
)
def sample_quota_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: keep at most {_QUOTA} docs per source, chosen by
    hash order. One hash(source) exchange + per-group top-k (rank
    filter prunes early under AQE); the hash order makes re-runs stable
    under corpus growth for the docs that stay (a doc's rank only
    changes if new docs hash below it — unlike insertion order, which
    reshuffles everything). Skew posture: a heavy source's partition
    still sorts only ITS docs; for web-scale single-domain skew the
    same op runs after a per-domain salted pre-top-k (take {_QUOTA}
    per salt, then re-rank — exact because quota ≤ per-salt keep)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        (F.col("doc_id") * F.lit(_KNUTH)) % F.lit(_MOD32), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).cast("bigint").alias("slot"))
        .filter(F.col("slot") <= _QUOTA)
    )


# --- sample_epoch_repeat ----------------------------------------------------
#
# Epoch-repetition mixing — the other half of the data recipe: scarce
# high-quality sources repeat for multiple epochs while bulk sources
# run once (the public LLM-training practice of up-sampling curated
# corpora by small integer factors). Deterministic factors derived from
# the source id; each (doc, epoch) is a distinct output row.


@register(
    "sample_epoch_repeat",
    oracle="""
    SELECT doc_id, source, CAST(unnest(generate_series(1, epochs)) AS BIGINT) AS epoch
    FROM (
      SELECT doc_id, source,
             CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 3
                  WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2
                  ELSE 1 END AS epochs
      FROM documents) t
    """,
    tags=("sample", "corpus", "epochs"),
)
def sample_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized epoch repetition: sequence(1, epochs) + explode —
    the repeat factor is a derived column, so the fan-out happens
    scan-side with NO shuffle at all (pure narrow transform; at 100 TB
    the writer repartitions the output, not this operator). Factors: 3
    epochs for sources 0-4, 2 for 5-9, 1 for the rest — stand-ins for
    a quality-tier table that would broadcast-join identically."""
    d = table(spark, sf_dir, "documents")
    sid = F.substring("source", 4, 10).cast("int")
    epochs = (
        F.when(sid < 5, 3).when(sid < 10, 2).otherwise(1)
    )
    return d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), epochs)).alias("__e"),
    ).select("doc_id", "source", F.col("__e").cast("bigint").alias("epoch"))


# --- corpus_soft_dedup_weights ----------------------------------------------


_SQL_SOFT_DEDUP = f"""
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           CAST(1000000 / COUNT(*) OVER (PARTITION BY component) AS BIGINT)
             AS weight_ppm
    FROM ({_SQL_CLUSTER}) labeled
"""


@register(
    "corpus_soft_dedup_weights",
    oracle=_SQL_SOFT_DEDUP,
    tags=("north_star", "dedup", "corpus", "weights"),
)
def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping near-dup documents, keep
    them all and DOWNWEIGHT each cluster to unit total mass —
    weight_ppm = 1e6 // cluster_size — the loss-weighting alternative
    to hard dedup (duplicate-aware training: the cluster contributes
    one document's worth of gradient however many copies exist).
    Composes dedup_cluster's memoized connected components with one
    count window over the component key; integer ppm keeps the weights
    engine-exact. Shuffle cost beyond the clustering: a single
    hash(component) window exchange."""
    labels = dedup_cluster(spark, sf_dir)
    w = Window.partitionBy("component")
    return labels.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        (F.lit(1_000_000) / F.count(F.lit(1)).over(w))
        .cast("bigint")
        .alias("weight_ppm"),
    )


# --- sample_balanced --------------------------------------------------------
#
# Class-balanced downsampling: cap every event_type at the minority
# class's count, selecting survivors by md5-of-key order — the
# classifier-training rebalance primitive (sample_stratified draws
# fixed fractions; this EQUALIZES). Deterministic: md5 order is
# engine-identical and independent of physical row order.


_BALANCED_SQL = """
    WITH k AS (
      SELECT CAST(min(cnt) AS BIGINT) AS kmin
      FROM (SELECT count(*) AS cnt FROM events GROUP BY event_type)),
    r AS (
      SELECT event_id, event_type, user_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events)
    SELECT event_id, event_type, user_id
    FROM r, k WHERE r.rn <= k.kmin
    """


@register("sample_balanced", oracle=_BALANCED_SQL, tags=("sample", "north_star"))
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize class sizes at the minority count via hash-ordered
    row_number.

    Shapes: one count aggregate (broadcast as a 1-row scalar), one
    hash(event_type) window for the ranked cap. At 100 TB the window
    sort is the cost — the scale path replaces full ranking with a
    two-pass hash-threshold selection (rank only within the ≈k
    hash-smallest band; same survivors) exactly as sample_reservoir
    documents; kept as the ranked form here because k ≈ class size
    at test scale."""
    ev = table(spark, sf_dir, "events")
    kmin = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").cast("bigint").alias("kmin"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    r = ev.select("event_id", "event_type", "user_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        r.join(F.broadcast(kmin))
        .filter(F.col("rn") <= F.col("kmin"))
        .select("event_id", "event_type", "user_id")
    )


# --- corpus_source_mix ------------------------------------------------------
#
# Corpus composition report: docs, chars and share by (source, lang) —
# the mixture dashboard a curation run publishes next to its output
# (what sample_weighted_mix/sample_temperature_mix consume as input
# rates). All-integer (counts + ppm shares).


_SOURCE_MIX_SQL = """
    WITH g AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, n_chars,
           CAST(n_docs * 1000000
                // (SELECT CAST(sum(n_docs) AS BIGINT) FROM g) AS BIGINT)
             AS doc_share_ppm,
           CAST(n_chars * 1000000
                // (SELECT CAST(sum(n_chars) AS BIGINT) FROM g) AS BIGINT)
             AS char_share_ppm
    FROM g
    """


@register("corpus_source_mix", oracle=_SOURCE_MIX_SQL, tags=("corpus", "north_star"))
def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs/chars composition by (source, lang) with ppm shares.

    Shapes: one map-side-combinable aggregate to |sources|·|langs|
    rows; the grand totals are window sums over that tiny frame.
    At 100 TB this is the one-exchange composition report."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w = W.partitionBy()
    return (
        g.withColumn("_td", F.sum("n_docs").over(w))
        .withColumn("_tc", F.sum("n_chars").over(w))
        .select(
            "source", "lang", "n_docs", "n_chars",
            F.expr("n_docs * 1000000 DIV _td").cast("bigint").alias("doc_share_ppm"),
            F.expr("n_chars * 1000000 DIV _tc").cast("bigint").alias("char_share_ppm"),
        )
    )


# --- corpus_shard_assignment ------------------------------------------------
#
# Output shard planning: assign every document to one of {S} shards by
# portable content-independent key hash and report per-shard load
# (docs, chars) with skew vs the ideal share — the write-layout
# decision a 100 TB corpus publish makes BEFORE the shuffle (shard =
# repartition key = output file group). Balance is the whole point:
# the report IS the evidence the hash spreads load.

_SHARDS = 32


_SHARD_SQL = f"""
    WITH s AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_SHARDS} AS shard,
             n_chars
      FROM documents),
    g AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM s GROUP BY 1)
    SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_chars,
           CAST(n_chars * {_SHARDS} * 1000000
                // (SELECT CAST(sum(n_chars) AS BIGINT) FROM g) AS BIGINT)
             AS load_vs_ideal_ppm
    FROM g
    """


@register("corpus_shard_assignment", oracle=_SHARD_SQL, tags=("corpus", "layout"))
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment by md5-of-key + per-shard load report
    (load_vs_ideal_ppm = 1e6 means perfectly balanced).

    The hash is content-independent (doc_id, not text) so shard
    placement survives document edits — the stable-layout property
    incremental publishes need. Shapes: one {S}-group aggregate with
    map-side combine; the grand total is a window over the {S}-row
    frame. At 100 TB the real write is .repartition(shard).write —
    this plan is its dry-run report."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents").select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % _SHARDS
        ).alias("shard"),
        "n_chars",
    )
    g = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        g.withColumn("_t", F.sum("n_chars").over(W.partitionBy()))
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "n_chars",
            F.expr(f"n_chars * {_SHARDS} * 1000000 DIV _t")
            .cast("bigint")
            .alias("load_vs_ideal_ppm"),
        )
    )


# --- corpus_dup_matrix ------------------------------------------------------
#
# Cross-source duplication matrix: for every (source_a ≤ source_b)
# pair, how many near-dup pairs connect them — the "which feeds copy
# from which" report a corpus curator reads before setting per-source
# dedup priorities (intra-source dups suggest crawler re-visits;
# cross-source dups suggest syndication). Reuses the memoized exact
# pair frame + a 2-column dimension join.


def _dup_matrix_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS

    return (
        _SQL_PAIRS
        + """
      , lab AS (
        SELECT p.i, p.j, di.source AS si, dj.source AS sj
        FROM pairs p
        JOIN documents di ON p.i = di.doc_id
        JOIN documents dj ON p.j = dj.doc_id)
      SELECT least(si, sj) AS source_a, greatest(si, sj) AS source_b,
             CAST(count(*) AS BIGINT) AS n_dup_pairs,
             CAST(sum(CASE WHEN si = sj THEN 1 ELSE 0 END) AS BIGINT)
               AS n_intra
      FROM lab GROUP BY 1, 2
    """
    )


@register("corpus_dup_matrix", oracle=_dup_matrix_oracle(), tags=("corpus", "dedup"))
def corpus_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair (integer).

    Shapes: the doc→source dimension is corpus-metadata sized and
    BROADCAST twice onto the pair frame (one per endpoint); the rollup
    lands on a |sources|² grid. The pair frame is the memoized one
    every graph/dedup key shares — zero recompute."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    di = d.select(F.col("doc_id").alias("i"), F.col("source").alias("si"))
    dj = d.select(F.col("doc_id").alias("j"), F.col("source").alias("sj"))
    lab = pairs.join(F.broadcast(di), "i").join(F.broadcast(dj), "j")
    return lab.groupBy(
        F.least("si", "sj").alias("source_a"),
        F.greatest("si", "sj").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.sum(F.when(F.col("si") == F.col("sj"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_intra"),
    )


# --- corpus_token_budget ----------------------------------------------------
#
# THE question every training run starts with: how many tokens do we
# have, and where — token totals per (source, lang) with corpus share
# and a deterministic rank. Complements corpus_source_mix (docs/chars
# composition) with the unit that actually prices a run.


_TOKEN_BUDGET_SQL = """
    WITH tok AS (
      SELECT source, lang,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1, 2),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g)
    SELECT g.source, g.lang, g.n_docs, g.n_tokens,
           CAST(g.n_tokens * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(row_number() OVER (ORDER BY g.n_tokens DESC, g.source, g.lang)
                AS BIGINT) AS budget_rank
    FROM g, t
    """


@register("corpus_token_budget", oracle=_TOKEN_BUDGET_SQL, tags=("corpus", "north_star"))
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token totals per (source, lang) with ppm share and rank.

    Shapes: token COUNTING is per-row (size(split), no explode — the
    cheap form when only totals are needed); one map-side-combined
    rollup to the |sources|·|langs| grid; total + rank run on that
    tiny frame. The no-explode trick matters at 100 TB: counting
    tokens must never materialize them."""
    from etl_cnpjs_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select(
        "source", "lang", F.size(tokens(F.col("text"))).cast("bigint").alias("nt")
    )
    g = tok.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    t = g.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 DIV total").cast("bigint").alias(
                "share_ppm"
            ),
        )
        .withColumn(
            "budget_rank",
            F.row_number()
            .over(W.orderBy(F.desc("n_tokens"), "source", "lang"))
            .cast("bigint"),
        )
    )


# --- sample_temporal_split --------------------------------------------------
#
# Leakage-safe temporal train/test split — the ONLY valid split for
# forecasting / sequential models (sample_hash's random split leaks
# the future into training). Cutoff = the exact 80th-percentile event
# time (percentile_disc: a real data value, engine-identical);
# reports per-split sizes, spans, and the leakage invariant
# (max(train ts) ≤ cutoff < min(test ts)) as hashed columns.


_TSPLIT_SQL = """
    WITH c AS (
      SELECT quantile_disc(CAST(floor(epoch(ts)) AS BIGINT), 0.8) AS cut
      FROM events),
    lab AS (
      SELECT CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <= c.cut
                  THEN 'train' ELSE 'test' END AS split,
             CAST(floor(epoch(ts)) AS BIGINT) AS s, c.cut
      FROM events, c)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(s) AS BIGINT) AS min_s,
           CAST(max(s) AS BIGINT) AS max_s,
           CAST(max(cut) AS BIGINT) AS cutoff_s,
           CAST(CASE WHEN split = 'train' THEN CASE WHEN max(s) <= max(cut)
                                                    THEN 1 ELSE 0 END
                     ELSE CASE WHEN min(s) > max(cut) THEN 1 ELSE 0 END
                END AS BIGINT) AS leakage_free
    FROM lab GROUP BY split
    """


@register("sample_temporal_split", oracle=_TSPLIT_SQL, tags=("sample", "ml"))
def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-cutoff 80/20 split report with the leakage invariant as a
    hashed column (integer).

    Shapes: the cutoff is one exact percentile aggregate broadcast as
    a 1-row frame; labeling is scan-side CASE (the
    fn_discretize_quantiles two-pass shape). The leakage_free flags
    being IN the oracle contract means a broken split can't pass
    silently."""
    ev = table(spark, sf_dir, "events")
    s = F.unix_timestamp("ts").cast("bigint")
    c = ev.agg(
        F.expr(
            "percentile_disc(0.8) WITHIN GROUP "
            "(ORDER BY CAST(unix_timestamp(ts) AS BIGINT))"
        ).alias("cut")
    )
    lab = ev.crossJoin(F.broadcast(c)).select(
        F.when(s <= F.col("cut"), "train").otherwise("test").alias("split"),
        s.alias("s"),
        "cut",
    )
    g = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("s").cast("bigint").alias("min_s"),
        F.max("s").cast("bigint").alias("max_s"),
        F.max("cut").cast("bigint").alias("cutoff_s"),
    )
    return g.select(
        "split",
        "n_events",
        "min_s",
        "max_s",
        "cutoff_s",
        F.when(
            F.col("split") == "train",
            F.when(F.col("max_s") <= F.col("cutoff_s"), 1).otherwise(0),
        )
        .otherwise(F.when(F.col("min_s") > F.col("cutoff_s"), 1).otherwise(0))
        .cast("bigint")
        .alias("leakage_free"),
    )


# --- corpus_substr_clean -----------------------------------------------------
#
# The APPLY step of ExactSubstr dedup: cut the duplicated spans that
# text_exact_substr_spans found and emit the cleaned corpus — the
# end-to-end form of Lee et al.'s dedup (find spans -> remove spans ->
# train on what remains). Tokens inside ANY duplicated span are
# dropped; the survivors re-join in order. Docs with no spans pass
# through verbatim (token-joined, so whitespace is canonical on both
# engines).

@register(
    "corpus_substr_clean",
    oracle=f"""
    WITH spans AS (
      SELECT * FROM ({_SUBSTR_SQL}) z
    ),
    d2 AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS pos
      FROM d2
    ),
    cut AS (
      SELECT doc_id,
             unnest(generate_series(start_tok, end_tok)) AS pos
      FROM spans
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.toks[t.pos] AS tok
      FROM tok t ANTI JOIN cut c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
    )
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY pos)    AS clean_text,
           CAST(count(*) AS BIGINT)             AS n_tokens_kept
    FROM kept
    GROUP BY doc_id
    """,
    tags=("corpus", "text", "dedup", "north_star"),
)
def corpus_substr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after ExactSubstr span removal: (doc_id,
    clean_text, n_tokens_kept). Docs whose every token sits in a
    duplicated span disappear (nothing kept) — the full-duplicate
    case degenerates to exact dedup, as the paper notes.

    Shapes (r13 rework): spans come from the text_exact_substr_spans
    program (two natural-key exchanges); spans aggregate to ONE
    doc-grain row of (start, end) structs — span-scale, bounded by
    duplicated-span count, NOT corpus tokens — and left-join onto the
    doc-grain corpus; the cut itself is a per-row higher-order filter
    (token index ∉ any span), so the corpus is never exploded to token
    grain. The previous shape posexploded every token (corpus × tokens
    rows), anti-joined on (doc_id, pos) and re-grouped with
    collect_list + array_sort — TWO token-grain shuffles of the whole
    corpus that this form does not pay at any scale (measured at
    sf0.1: 2.2 → 0.7 s as the funnel's stage 1; plan diff in
    plans/r13/corpus_substr_clean_*.txt). Join strategy is left to
    AQE: the span frame broadcasts when small; at 100 TB it is a
    doc-keyed shuffle of span-scale rows vs the old token-grain
    corpus shuffle. Per-row cut cost is tokens × spans-of-doc
    (spans are few maximal ranges), vs the old per-token join rows.
    Value-identical: same kept tokens in document order, same
    single-space rejoin, docs cut to nothing still vanish (size > 0
    filter replaces the groupBy-over-kept-rows semantics)."""
    spans = text_exact_substr_spans(spark, sf_dir).select(
        "doc_id", "start_tok", "end_tok"
    )
    cuts = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__cuts")
    )
    docs = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    j = docs.join(cuts, "doc_id", "left")
    no_cuts = F.coalesce(
        F.col("__cuts"),
        F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            no_cuts,
            lambda c: ((i + 1) >= c["start_tok"]) & ((i + 1) <= c["end_tok"]),
        ),
    )
    return (
        # two-step Project: `kept` is a non-cheap higher-order filter
        # consumed twice below; CollapseProject leaves non-cheap
        # multi-referenced aliases in their own Project (SPARK-36718),
        # so the cut runs once per row, not once per consumer.
        j.select("doc_id", kept.alias("__kept"))
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("clean_text"),
            F.size("__kept").cast("bigint").alias("n_tokens_kept"),
        )
        .filter(F.col("n_tokens_kept") > 0)
    )


# --- corpus_dedup_funnel -----------------------------------------------------
#
# The staged end-to-end dedup capstone: chains the three published dedup
# paradigms the way a production 100 TB curation run orders them —
#
#     documents
#       -> ExactSubstr span-cut        (Lee et al. 2022: cut every maximal
#                                       duplicated >=8-gram token span;
#                                       docs cut to nothing disappear)
#       -> MinHash-LSH near-dup + CC   (Broder banding over the CLEANED
#                                       text, exact-Jaccard verify >= 0.8,
#                                       connected components, keep the
#                                       component-min doc)
#       -> SemDeDup semantic prune     (Abbas et al. 2023: coarse-cluster
#                                       survivor embeddings, drop a doc iff
#                                       a lower-id survivor in its cluster
#                                       cell has cosine >= tau)
#       -> per-source funnel report    (source, n_docs, kept_cut,
#                                       kept_near, kept_sem — nested counts)
#
# corpus_dedup_sweep is the exact/near/containment sibling — together
# they cover the five-paradigm lineage end to end.
#
# Stage-ordering rationale:
# - ExactSubstr runs FIRST because span cutting CHANGES document text:
#   boilerplate/quote removal shrinks shingle sets, so near-dup detection
#   on cleaned text finds template-sharing docs that raw-text Jaccard
#   misses (the order the Lee et al. pipeline itself uses before fuzzy
#   dedup).
# - Exact duplicates need no separate stage: after cleaning, identical
#   texts share identical shingle sets (Jaccard 1 >= 0.8), so the CC
#   stage absorbs exact dedup — keep-min-id per component IS the exact
#   rule on the text-group min.
# - SemDeDup runs LAST on the smallest survivor set, restricted to
#   survivors that HAVE an embedding; docs without a vector pass through
#   stage 3 unpruned on both engines (at sf0.1 only 2000 of 5000 docs
#   carry vectors — the partial-coverage case a real pipeline must define).
# - Division of labor, stage 1 vs stage 2 (pinned in
#   tests/test_dedup_funnel.py): once every duplicated run of >= k+1
#   tokens is cut, two cleaned docs share at most k-token exact runs,
#   which caps 3-shingle Jaccard near 0.5 — below the 0.8 threshold. So
#   stage 2's live targets are exactly the documents ExactSubstr CANNOT
#   see: docs shorter than k=8 tokens and near-identical short remainders.
#   On the shipped corpora stage 2 removes 0 docs (kept_cut == kept_near
#   at every SF) because the generator plants only long-form duplication;
#   the fixture test plants a sub-k duplicate pair and watches stage 2
#   remove it.
#
# Determinism: every stage rule is id-deterministic (component-min,
# lower-id-wins prune), thresholds are shared constants, and the only
# floats (Jaccard, cosine) are exact-integer ratios / identical-op-sequence
# dot products both engines evaluate bit-identically.


def _funnel_oracle() -> str:
    from etl_cnpjs_spark.operators.similarity import sql_cosine
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD
    from etl_cnpjs_spark.plans.text import _SUBSTR_SQL
    from etl_cnpjs_spark.plans.similarity import _SQL_ASSIGN_CTES, SEMANTIC_TAU

    # CTE names must not collide with the assign block's (u, cl, c,
    # assign); the cut/clean chain is corpus_substr_clean's oracle, the
    # pairs/closure chain is _SQL_CLUSTER's, both re-rooted on the
    # cleaned corpus.
    return rf"""
    WITH RECURSIVE
    spans AS (SELECT * FROM ({_SUBSTR_SQL}) z),
    d2 AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
      FROM d2),
    cut AS (
      SELECT doc_id, unnest(generate_series(start_tok, end_tok)) AS pos
      FROM spans),
    keptt AS (
      SELECT t.doc_id, t.pos, t.toks[t.pos] AS tok
      FROM tok t ANTI JOIN cut x ON t.doc_id = x.doc_id AND t.pos = x.pos),
    clean AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
      FROM keptt GROUP BY doc_id),
    cd AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM clean),
    csh AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      FROM cd),
    ce AS (SELECT doc_id, unnest(shingles) AS s FROM csh
           WHERE len(shingles) > 0),
    csz AS (SELECT doc_id, len(shingles) AS n FROM csh),
    cp AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM ce a JOIN ce b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    cpairs AS (
      SELECT i, j FROM cp
      JOIN csz s1 ON cp.i = s1.doc_id JOIN csz s2 ON cp.j = s2.doc_id
      WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}),
    edges AS (SELECT i AS a, j AS b FROM cpairs
              UNION SELECT j, i FROM cpairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
    comp AS (SELECT a, least(a, min(b)) AS component FROM reach GROUP BY a),
    keep2 AS (
      SELECT cl2.doc_id FROM clean cl2 LEFT JOIN comp ON cl2.doc_id = comp.a
      WHERE coalesce(comp.component, cl2.doc_id) = cl2.doc_id),
    n AS (
      SELECT em.vec_id, em.label, em.embedding::DOUBLE[] AS v
      FROM embeddings em JOIN keep2 k ON em.vec_id = k.doc_id),
    {_SQL_ASSIGN_CTES},
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND b.vec_id < a.vec_id
      WHERE {sql_cosine("a.v", "b.v")} >= {SEMANTIC_TAU}),
    fl AS (
      SELECT d.doc_id, d.source,
             (c1.doc_id IS NOT NULL) AS s1,
             (k2.doc_id IS NOT NULL) AS s2,
             (dr.vec_id IS NULL)     AS s3
      FROM documents d
      LEFT JOIN clean c1 ON d.doc_id = c1.doc_id
      LEFT JOIN keep2 k2 ON d.doc_id = k2.doc_id
      LEFT JOIN dropped dr ON d.doc_id = dr.vec_id)
    SELECT source,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(count(CASE WHEN s1 THEN 1 END) AS BIGINT)    AS kept_cut,
           CAST(count(CASE WHEN s2 THEN 1 END) AS BIGINT)    AS kept_near,
           CAST(count(CASE WHEN s2 AND s3 THEN 1 END) AS BIGINT)
                                                             AS kept_sem
    FROM fl GROUP BY source
    """


@register(
    "corpus_dedup_funnel",
    oracle=_funnel_oracle(),
    tags=("north_star", "dedup", "pipeline", "capstone"),
)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr cut -> MinHash-LSH/CC -> SemDeDup, one per-source
    funnel report: (source, n_docs, kept_cut, kept_near, kept_sem).
    See the module docstring for stage semantics and composition
    soundness.

    Scale story, stage by stage: (1) the span cut is the registered
    ExactSubstr program — linear positional postings, two natural-key
    exchanges, no pair enumeration; its cleaned frame is
    localCheckpointed because THREE branches consume it (shingles, CC
    node set, report join). (2) near-dup runs the banded-LSH path
    (8x2 minhash bands -> candidate pairs -> exact-Jaccard verify), one
    band-keyed shuffle instead of a full posting self-join. TRUST GATE
    (ADVICE r7): the hash oracle enumerates exact-Jaccard pairs while
    the plan discovers them by banding, so this key is green on a
    corpus only while banding recall is exactly 1.0 there (theoretical
    per-pair miss ~3e-4 at J=0.8);
    tests/test_dedup_funnel.py::test_funnel_lsh_recall_on_cleaned_text
    AUTO-DISCOVERS every /root/testdata/sf* dir and must pass on a
    newly shipped SF before the key is trusted on it. CC is the star-contraction min-label loop, cost
    bounded by component diameter (near-dup clusters are shallow).
    (3) the semantic stage sees only stage-2 SURVIVORS with vectors:
    broadcast-centroid assignment (no vector shuffle) and the salted
    bucket-local numpy scorer — pair space ~n_surv^2/k, never corpus^2.
    The report is one conditional-count aggregate on source.
    """
    from etl_cnpjs_spark.functions.text import shingles, tokens
    from etl_cnpjs_spark.operators.dedup import (
        candidate_pairs,
        exact_jaccard,
        minhash_band_keys,
    )
    from etl_cnpjs_spark.operators.graph import connected_components
    from etl_cnpjs_spark.operators.similarity import bucket_cosine_pairs, vec_double
    from etl_cnpjs_spark.plans.dedup import JACCARD_THRESHOLD
    from etl_cnpjs_spark.plans.corpus import corpus_substr_clean
    from etl_cnpjs_spark.plans.similarity import (
        SEMANTIC_TAU,
        _label_centroid_assignment,
    )

    d = table(spark, sf_dir, "documents")

    # stage 1 — ExactSubstr span cut (docs cut to nothing vanish here)
    clean = (
        corpus_substr_clean(spark, sf_dir)
        .select("doc_id", "clean_text")
        .localCheckpoint()
    )

    # stage 2 — MinHash-LSH candidates over CLEANED text, exact verify,
    # connected components, keep component-min
    signed = (
        clean.select("doc_id", shingles(tokens(F.col("clean_text"))).alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            "sh",
            minhash_band_keys(F.col("sh"), bands=8, rows=2).alias("bk"),
        )
        # two self-join branches (candidates, verify) — barrier or the
        # 16 min-hash array passes run once per branch
        .localCheckpoint()
    )
    cands = candidate_pairs(signed, "doc_id", "bk")
    pairs = exact_jaccard(cands, signed, "doc_id", "sh").filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    labels = connected_components(
        clean.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("i").alias("src"), F.col("j").alias("dst")),
    )
    keep2 = (
        labels.filter(F.col("node") == F.col("component"))
        .select(F.col("node").alias("doc_id"))
        # two consumers: semantic-stage semi-join + report join
        .localCheckpoint()
    )

    # stage 3 — SemDeDup over survivors WITH vectors (vec_id == doc_id;
    # vector-less docs pass through unpruned)
    n = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", vec_double(F.col("embedding")).alias("v"))
        .join(keep2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    )
    _, assign = _label_centroid_assignment(n)
    a = assign.localCheckpoint()  # pair scorer + (implicitly) its two sides
    p3 = bucket_cosine_pairs(a, "cid", "vec_id", "v", SEMANTIC_TAU)
    dropped = (
        p3.select(F.col("j").alias("doc_id")).distinct().withColumn("dr", F.lit(1))
    )

    # funnel report
    fl = (
        d.select("doc_id", "source")
        .join(clean.select("doc_id").withColumn("s1", F.lit(True)), "doc_id", "left")
        .join(keep2.withColumn("s2", F.lit(True)), "doc_id", "left")
        .join(dropped, "doc_id", "left")
    )
    return fl.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("s1"), 1)).cast("bigint").alias("kept_cut"),
        F.count(F.when(F.col("s2"), 1)).cast("bigint").alias("kept_near"),
        F.count(F.when(F.col("s2") & F.col("dr").isNull(), 1))
        .cast("bigint")
        .alias("kept_sem"),
    )


# --- corpus_decontaminate ----------------------------------------------------
#
# Train/eval split leakage report. The split is the deterministic
# Knuth-hash 10% (sample_hash's idiom: rerun- and engine-stable, no
# random()); a leaked eval doc is one with a near-dup partner
# (exact-Jaccard >= 0.8 — the shared `pairs` definition every dedup
# oracle uses) on the TRAIN side. This is the cross-split twin of
# corpus_curate's within-corpus dedup: curation removes duplicates from
# the corpus, decontamination removes eval docs whose content the model
# will have seen in train (Lee et al. 2022 §6, the benchmark-overlap
# protocol every LLM eval now runs).


def _decon_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS
    from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MOD

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
    from etl_cnpjs_spark.plans.corpus import _KEEP, _KNUTH, _MOD

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


# --- corpus_build ------------------------------------------------------------
#
# The full end-to-end training-corpus build: ONE registered key, one
# DuckDB oracle, a per-language stage report:
#
#     documents (non-empty)
#       -> train/eval split          (Knuth-hash 10% eval — the
#                                     corpus_decontaminate split, a pure
#                                     function of doc_id: no split table)
#       -> decontaminate TRAIN       (drop train docs with an
#                                     exact-Jaccard >= 0.8 near-dup in
#                                     EVAL — the direction that poisons
#                                     benchmark numbers; the report twin
#                                     corpus_decontaminate flags the eval
#                                     side instead)
#       -> near-dup dedup + CC       (pairs restricted to surviving train
#                                     docs, connected components, keep the
#                                     component-min doc — dedup_cluster's
#                                     rule on the induced subgraph; the
#                                     3-stage ExactSubstr/LSH/SemDeDup
#                                     story stays corpus_dedup_funnel's)
#       -> temperature mixture       (alpha = 0.5 rates derived from the
#                                     SURVIVORS' per-language counts —
#                                     sample_temperature_mix re-rooted on
#                                     the deduped corpus, so the mix
#                                     self-adjusts to what dedup removed)
#       -> greedy sharded packing    (doc_pack_greedy_sharded's bounded
#                                     (lang, shard) fold; the report needs
#                                     only per-shard bin counts, so the
#                                     offset stitch drops out of the plan)
#       -> per-language report       (lang, n_train, n_leaked,
#                                     n_dedup_kept, n_sampled, n_seqs,
#                                     packed_tokens)
#
# Stage-ordering rationale: decontamination runs BEFORE dedup because a
# train doc that duplicates an eval doc must not survive even as its
# component's min id; the mixture runs on DEDUPED counts because rates
# derived pre-dedup would re-skew toward languages whose volume was
# duplication; packing runs last on exactly the docs a trainer would see.
#
# Determinism: the split and mixture memberships are Knuth-hash
# thresholds (pure functions of doc_id; sqrt is IEEE-correctly-rounded so
# the derived rate thresholds are engine-identical), pair membership is
# exact integer Jaccard, CC keep is component-min, packing is the
# sharded greedy recurrence — every stage is replayed verbatim by the
# oracle, so the hash check covers the whole chain.
#
# Hash domain: both corpus_build and corpus_decontaminate_incremental
# compute the split hash via registry.knuth32 / knuth32_sql — the
# split-multiply form that is exact int64 over the FULL doc_id domain (the
# naive `doc_id * 2654435761` overflows past ~3.47e9 keys, INSIDE the
# 100 TB ~1e10-doc design point). Identical values to the naive form on
# the shipped fixtures; the oracles mirror the same arithmetic textually
# so the hash check covers the widened form itself.


def _build_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.text import (
        GREEDY_PACK_BUDGET,
        GREEDY_SHARD_WIDTH,
    )
    from etl_cnpjs_spark.plans.registry import MOD32 as _MIX_MOD
    from etl_cnpjs_spark.plans.registry import knuth32_sql

    return (
        "WITH RECURSIVE "
        + _SQL_PAIRS.strip().removeprefix("WITH")
        + rf"""
  , dd AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             ({knuth32_sql('doc_id')} < {_KEEP}) AS is_eval
      FROM documents WHERE length(trim(text)) > 0),
  sym AS (SELECT i AS a, j AS b FROM pairs
          UNION ALL SELECT j, i FROM pairs),
  leaked AS (
      SELECT DISTINCT s.a AS doc_id
      FROM sym s
      JOIN dd x ON s.a = x.doc_id
      JOIN dd y ON s.b = y.doc_id
      WHERE NOT x.is_eval AND y.is_eval),
  tr AS (
      SELECT dd.doc_id, dd.lang, dd.n_tokens
      FROM dd LEFT JOIN leaked l ON dd.doc_id = l.doc_id
      WHERE NOT dd.is_eval AND l.doc_id IS NULL),
  ed0 AS (
      SELECT p.i, p.j FROM pairs p
      JOIN tr t1 ON p.i = t1.doc_id JOIN tr t2 ON p.j = t2.doc_id),
  -- MATERIALIZED: a recursive CTE re-evaluates every non-materialized
  -- CTE it references ON EACH ITERATION — without the hint, reach
  -- re-runs the whole pairs chain and g re-runs the entire
  -- split/dedup/mixture pipeline per recursion step (measured: 47.5 s
  -- -> 0.8 s at sf0.001)
  ed AS MATERIALIZED (SELECT i AS a, j AS b FROM ed0
                      UNION SELECT j, i FROM ed0),
  reach(a, b) AS (
      SELECT a, b FROM ed
      UNION
      SELECT r.a, e2.b FROM reach r JOIN ed e2 ON r.b = e2.a),
  comp AS (SELECT a, least(a, min(b)) AS component FROM reach GROUP BY a),
  kept AS (
      SELECT t.doc_id, t.lang, t.n_tokens
      FROM tr t LEFT JOIN comp c ON t.doc_id = c.a
      WHERE coalesce(c.component, t.doc_id) = t.doc_id),
  nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM kept GROUP BY 1),
  mm AS (SELECT MIN(nl) AS nmin FROM nl),
  rr AS (
      SELECT nl.lang,
             CAST(floor(sqrt(CAST(mm.nmin AS DOUBLE) / CAST(nl.nl AS DOUBLE))
                        * {_MIX_MOD}) AS BIGINT) AS thresh
      FROM nl, mm),
  samp AS MATERIALIZED (
      SELECT k.doc_id, k.lang, k.n_tokens,
             k.doc_id // {GREEDY_SHARD_WIDTH} AS shard,
             row_number() OVER (PARTITION BY k.lang,
                                k.doc_id // {GREEDY_SHARD_WIDTH}
                                ORDER BY k.doc_id) AS rn
      FROM kept k JOIN rr ON k.lang = rr.lang
      WHERE {knuth32_sql('k.doc_id')} < rr.thresh),
  g AS (
      SELECT lang, shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM samp WHERE rn = 1
      UNION ALL
      SELECT s.lang, s.shard, s.rn, s.doc_id, s.n_tokens,
             CASE WHEN g.fill + s.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN g.bin + 1 ELSE g.bin END,
             CASE WHEN g.fill + s.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN s.n_tokens ELSE g.fill + s.n_tokens END
      FROM g JOIN samp s ON s.lang = g.lang AND s.shard = g.shard
                        AND s.rn = g.rn + 1),
  pk AS (
      SELECT lang, CAST(sum(bins) AS BIGINT) AS n_seqs,
             CAST(sum(tok) AS BIGINT) AS packed_tokens
      FROM (SELECT lang, shard, max(bin) + 1 AS bins,
                   sum(n_tokens) AS tok
            FROM g GROUP BY 1, 2) z
      GROUP BY 1),
  base AS (
      SELECT dd.lang,
             CAST(sum(CASE WHEN NOT dd.is_eval THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(count(l.doc_id) AS BIGINT) AS n_leaked
      FROM dd LEFT JOIN leaked l ON dd.doc_id = l.doc_id
      GROUP BY 1),
  dk AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_dedup_kept
         FROM kept GROUP BY 1),
  sp AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
         FROM samp GROUP BY 1)
  SELECT b.lang, b.n_train, b.n_leaked,
         COALESCE(dk.n_dedup_kept, 0) AS n_dedup_kept,
         COALESCE(sp.n_sampled, 0)    AS n_sampled,
         COALESCE(pk.n_seqs, 0)       AS n_seqs,
         COALESCE(pk.packed_tokens, 0) AS packed_tokens
  FROM base b
  LEFT JOIN dk ON b.lang = dk.lang
  LEFT JOIN sp ON b.lang = sp.lang
  LEFT JOIN pk ON b.lang = pk.lang
"""
    )


@register(
    "corpus_build",
    oracle=_build_oracle(),
    tags=("north_star", "pipeline", "capstone", "dedup", "sampling"),
)
def corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus build report per language:
    (lang, n_train, n_leaked, n_dedup_kept, n_sampled, n_seqs,
    packed_tokens). Stage semantics in the module docstring.

    Scale story, stage by stage: the split/leak flags are pure
    doc_id functions computed scan-side on BOTH pair endpoints (no
    membership join); the leaked set collapses the pair frame through
    one distinct into a broadcast; CC runs on the survivor-restricted
    pair subgraph (star contraction, diameter-bounded); the mixture
    rate table is |langs| rows from one map-side-combined count
    (broadcast back — no document shuffle); packing is the bounded
    (lang, shard) fold, and because the report needs only per-shard
    BIN COUNTS, the offset stitch (a join back onto doc-grain data)
    drops out entirely. The only doc-grain exchanges are the memoized
    pair build, the CC label join, and the one applyInPandas pack.
    At 100 TB the exact-Jaccard pair frame is replaced by the banded
    MinHash-LSH candidate path (the dedup_minhash adjudication — same
    swap corpus_decontaminate documents); every downstream stage is
    unchanged because they consume only (i, j) pairs."""
    from etl_cnpjs_spark.functions.text import tokens
    from etl_cnpjs_spark.operators.graph import connected_components
    from etl_cnpjs_spark.operators.packing import greedy_pack_bins
    from etl_cnpjs_spark.plans.dedup import _exact_pairs
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.text import (
        GREEDY_PACK_BUDGET,
        GREEDY_SHARD_WIDTH,
    )
    from etl_cnpjs_spark.plans.registry import knuth32

    def is_eval(col):
        return knuth32(col) < F.lit(_KEEP)

    d = (
        table(spark, sf_dir, "documents", parallel=True)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "lang",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            is_eval(F.col("doc_id")).alias("is_eval"),
        )
    )
    pairs = _exact_pairs(spark, sf_dir).select("i", "j")

    # decontaminate: train docs with an eval near-dup partner
    sym = pairs.select(F.col("i").alias("a"), F.col("j").alias("b")).unionAll(
        pairs.select(F.col("j").alias("a"), F.col("i").alias("b"))
    )
    leaked = (
        sym.filter(~is_eval(F.col("a")) & is_eval(F.col("b")))
        .select(F.col("a").alias("doc_id"))
        .distinct()
        # three consumers: tr anti-join, edge anti-joins, report join
        .localCheckpoint()
    )
    tr = (
        d.filter(~F.col("is_eval"))
        .join(F.broadcast(leaked), "doc_id", "left_anti")
        # consumed by CC nodes, the label join, and (via kept) the
        # mixture counts — barrier the scan+flag+anti once
        .localCheckpoint()
    )

    # near-dup CC on the survivor-restricted subgraph, keep component-min
    ed = (
        pairs.filter(~is_eval(F.col("i")) & ~is_eval(F.col("j")))
        .join(F.broadcast(leaked.withColumnRenamed("doc_id", "i")), "i", "left_anti")
        .join(F.broadcast(leaked.withColumnRenamed("doc_id", "j")), "j", "left_anti")
    )
    labels = connected_components(
        tr.select(F.col("doc_id").alias("node")),
        ed.select(F.col("i").alias("src"), F.col("j").alias("dst")),
    )
    kept = (
        labels.filter(F.col("node") == F.col("component"))
        .select(F.col("node").alias("doc_id"))
        .join(tr, "doc_id")
        .select("doc_id", "lang", "n_tokens")
        # consumed by the rate counts AND the sampled filter
        .localCheckpoint()
    )

    # temperature mixture (alpha = 0.5) on the deduped survivors —
    # sample_temperature_mix's rate formula, one shared definition
    from etl_cnpjs_spark.plans.corpus import temperature_rate_table

    nl = kept.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
    rr = temperature_rate_table(nl)
    samp = (
        kept.join(F.broadcast(rr), "lang")
        .filter(knuth32(F.col("doc_id")) < F.col("thresh"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"doc_id DIV {GREEDY_SHARD_WIDTH}").alias("shard"),
        )
    )

    # greedy sharded packing; the report needs only per-shard bin counts
    packed = samp.groupBy("lang", "shard").applyInPandas(
        greedy_pack_bins(GREEDY_PACK_BUDGET),
        "doc_id long, lang string, n_tokens int, shard long, bin long",
    )
    pk = (
        packed.groupBy("lang", "shard")
        .agg(
            (F.max("bin") + 1).cast("bigint").alias("bins"),
            F.sum("n_tokens").cast("bigint").alias("tok"),
        )
        .groupBy("lang")
        .agg(
            F.sum("bins").cast("bigint").alias("n_seqs"),
            F.sum("tok").cast("bigint").alias("packed_tokens"),
        )
    )

    # per-language stage report
    base = (
        d.join(F.broadcast(leaked.withColumn("_leak", F.lit(1))), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum(F.when(~F.col("is_eval"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.count("_leak").cast("bigint").alias("n_leaked"),
        )
    )
    dk = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dedup_kept")
    )
    sp = samp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled")
    )
    return (
        base.join(dk, "lang", "left")
        .join(sp, "lang", "left")
        .join(pk, "lang", "left")
        .select(
            "lang",
            "n_train",
            "n_leaked",
            F.coalesce("n_dedup_kept", F.lit(0)).cast("bigint").alias("n_dedup_kept"),
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
            F.coalesce("n_seqs", F.lit(0)).cast("bigint").alias("n_seqs"),
            F.coalesce("packed_tokens", F.lit(0))
            .cast("bigint")
            .alias("packed_tokens"),
        )
    )


# --- corpus_decontaminate_incremental -----------------------------------------
#
# The incremental face of decontamination: a NEW benchmark lands (a
# delta band of eval docs), and the pipeline must answer "which train
# docs become leaked NOW that weren't before?" without re-running the
# full cross-split sweep. Membership of both eval generations is a pure
# doc_id function (base = hash < 10%, delta = the next 5% band), so the
# delta probe is pair-frame work restricted to delta-eval endpoints —
# the same delta-restricted-probe discipline as dedup_incremental /
# graph_cc_incremental. Report per source: new-eval volume, NEWLY
# leaked train docs (delta partners only, minus docs the base split
# already leaked), and the pre-existing leak count for reconciliation.

_DELTA_BAND = 214_748_365  # ≈ 5% of 2^32: the new benchmark's band


def _decon_inc_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.registry import knuth32_sql

    hi = _KEEP + _DELTA_BAND
    return (
        _SQL_PAIRS
        + f"""
  , ev AS (
      SELECT doc_id, source,
             {knuth32_sql('doc_id')} AS h
      FROM documents),
  fl AS (
      SELECT doc_id, source,
             h < {_KEEP} AS base_eval,
             h >= {_KEEP} AND h < {hi} AS delta_eval,
             h >= {hi} AS is_train
      FROM ev),
  sym AS (SELECT i AS a, j AS b FROM pairs
          UNION ALL SELECT j, i FROM pairs),
  base_leaked AS (
      SELECT DISTINCT s.a AS doc_id
      FROM sym s JOIN fl x ON s.a = x.doc_id JOIN fl y ON s.b = y.doc_id
      WHERE x.is_train AND y.base_eval),
  delta_hit AS (
      SELECT DISTINCT s.a AS doc_id
      FROM sym s JOIN fl x ON s.a = x.doc_id JOIN fl y ON s.b = y.doc_id
      WHERE x.is_train AND y.delta_eval),
  newly AS (
      SELECT d.doc_id FROM delta_hit d
      LEFT JOIN base_leaked b ON d.doc_id = b.doc_id
      WHERE b.doc_id IS NULL)
  SELECT fl.source,
         CAST(sum(CASE WHEN fl.is_train THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(CASE WHEN fl.delta_eval THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_eval,
         CAST(count(bl.doc_id) AS BIGINT) AS n_already_leaked,
         CAST(count(nw.doc_id) AS BIGINT) AS n_newly_leaked
  FROM fl
  LEFT JOIN base_leaked bl ON fl.doc_id = bl.doc_id
  LEFT JOIN newly nw ON fl.doc_id = nw.doc_id
  GROUP BY fl.source
"""
    )


@register(
    "corpus_decontaminate_incremental",
    oracle=_decon_inc_oracle(),
    tags=("north_star", "dedup", "pipeline", "eval", "incremental"),
)
def corpus_decontaminate_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta decontamination report per source: (source, n_train,
    n_new_eval, n_already_leaked, n_newly_leaked) for a new benchmark
    band of eval docs (the 5% hash band above the base 10% split).

    Shapes: all three memberships are scan-side doc_id arithmetic on
    BOTH pair endpoints (no split table, no membership join); the two
    leak sets are projections+distinct of the memoized pair frame
    restricted by endpoint flags — each collapses to a broadcast before
    the one documents rollup. The incremental property: the delta probe
    touches only pairs whose partner lands in the NEW band — at 100 TB
    with the banded-LSH pair path, that is one LSH probe of the delta
    docs against the posting table (dedup_incremental's batch-probe
    shape), not a corpus re-sweep."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.registry import knuth32

    hi = _KEEP + _DELTA_BAND

    def h(col):
        return knuth32(col)

    def base_eval(col):
        return h(col) < F.lit(_KEEP)

    def delta_eval(col):
        return (h(col) >= F.lit(_KEEP)) & (h(col) < F.lit(hi))

    def is_train(col):
        return h(col) >= F.lit(hi)

    d = table(spark, sf_dir, "documents")
    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    sym = pairs.select(F.col("i").alias("a"), F.col("j").alias("b")).unionAll(
        pairs.select(F.col("j").alias("a"), F.col("i").alias("b"))
    )
    base_leaked = (
        sym.filter(is_train(F.col("a")) & base_eval(F.col("b")))
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("_base", F.lit(1))
        # two consumers: the anti filter for newly + the report join
        .localCheckpoint()
    )
    newly = (
        sym.filter(is_train(F.col("a")) & delta_eval(F.col("b")))
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .join(F.broadcast(base_leaked.select("doc_id")), "doc_id", "left_anti")
        .withColumn("_new", F.lit(1))
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(base_leaked), "doc_id", "left")
        .join(F.broadcast(newly), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.when(is_train(F.col("doc_id")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(delta_eval(F.col("doc_id")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new_eval"),
            F.count("_base").cast("bigint").alias("n_already_leaked"),
            F.count("_new").cast("bigint").alias("n_newly_leaked"),
        )
    )


# --- corpus_ingest_incremental ------------------------------------------------
#
# The batch contract for the shape a production crawl pipeline runs on
# every landed batch of NEW documents: screen the delta against the eval
# split (decontaminate-probe), then against the already-ingested corpus
# (near-dup probe of the persisted posting table), and greedy-pack only
# the survivors:
#
#     delta docs (doc_id >= _INCR_SPLIT, non-empty)
#       -> decontaminate-probe    (drop delta docs with an exact-Jaccard
#                                  >= 0.8 partner in the corpus EVAL
#                                  split — they would leak benchmark text
#                                  into training data)
#       -> corpus near-dup probe  (drop remaining delta docs with a
#                                  >= 0.8 partner among corpus TRAIN
#                                  docs — already-seen content;
#                                  dedup_incremental's probe, corpus side
#                                  maintained as a persisted posting
#                                  table per dedup_minhash_persist)
#       -> greedy sharded packing (doc_pack_greedy_sharded's bounded
#                                  (lang, shard) fold over the survivors)
#       -> per-language report    (lang, n_delta, n_leaked, n_dup,
#                                  n_ingested, n_seqs, packed_tokens)
#
# Attribution order matters and is part of the contract: a delta doc
# near-dupping BOTH an eval and a train doc counts as LEAKED (the
# decontamination stage runs first, exactly as corpus_build orders the
# full-corpus stages). Both memberships are pure functions — delta is a
# doc_id threshold (dedup_incremental's _INCR_SPLIT), eval is the
# Knuth-hash 10% band computed via registry.knuth32 (full int64-domain
# form) — so the probe is candidate work restricted to delta×corpus
# endpoints; nothing re-pairs the corpus against itself.
#
# The streaming face lives in tests/test_streaming.py::
# test_stream_corpus_ingest_converges_to_batch: the same delta replayed
# through readStream, screened per micro-batch against the PERSISTED
# posting/shingle tables inside foreachBatch, survivors staged, packed,
# and the drained report asserted equal to this key's output.


def _ingest_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import (
        _INCR_SPLIT,
        _SQL_SHINGLES,
        JACCARD_THRESHOLD,
    )
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.text import (
        GREEDY_PACK_BUDGET,
        GREEDY_SHARD_WIDTH,
    )
    from etl_cnpjs_spark.plans.registry import knuth32_sql

    return (
        "WITH RECURSIVE "
        + _SQL_SHINGLES.strip().removeprefix("WITH")
        + rf"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p AS (
      SELECT b.doc_id AS new_id, a.doc_id AS corpus_id, count(*) AS inter
      FROM e a JOIN e b ON a.s = b.s
      WHERE a.doc_id < {_INCR_SPLIT} AND b.doc_id >= {_INCR_SPLIT}
      GROUP BY 1, 2),
  ver AS (
      SELECT new_id, corpus_id
      FROM p JOIN sz s1 ON p.corpus_id = s1.doc_id
             JOIN sz s2 ON p.new_id = s2.doc_id
      WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}),
  hits AS (
      SELECT new_id AS doc_id,
             bool_or({knuth32_sql('corpus_id')} < {_KEEP}) AS leaked
      FROM ver GROUP BY 1),
  dm AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents
      WHERE doc_id >= {_INCR_SPLIT} AND length(trim(text)) > 0),
  surv AS MATERIALIZED (
      SELECT dm.doc_id, dm.lang, dm.n_tokens,
             dm.doc_id // {GREEDY_SHARD_WIDTH} AS shard,
             row_number() OVER (PARTITION BY dm.lang,
                                dm.doc_id // {GREEDY_SHARD_WIDTH}
                                ORDER BY dm.doc_id) AS rn
      FROM dm LEFT JOIN hits h ON dm.doc_id = h.doc_id
      WHERE h.doc_id IS NULL),
  g AS (
      SELECT lang, shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM surv WHERE rn = 1
      UNION ALL
      SELECT s.lang, s.shard, s.rn, s.doc_id, s.n_tokens,
             CASE WHEN g.fill + s.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN g.bin + 1 ELSE g.bin END,
             CASE WHEN g.fill + s.n_tokens > {GREEDY_PACK_BUDGET}
                       AND g.fill > 0
                  THEN s.n_tokens ELSE g.fill + s.n_tokens END
      FROM g JOIN surv s ON s.lang = g.lang AND s.shard = g.shard
                        AND s.rn = g.rn + 1),
  pk AS (
      SELECT lang, CAST(sum(bins) AS BIGINT) AS n_seqs,
             CAST(sum(tok) AS BIGINT) AS packed_tokens
      FROM (SELECT lang, shard, max(bin) + 1 AS bins,
                   sum(n_tokens) AS tok
            FROM g GROUP BY 1, 2) z
      GROUP BY 1),
  rep AS (
      SELECT dm.lang,
             CAST(count(*) AS BIGINT) AS n_delta,
             CAST(sum(CASE WHEN h.leaked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked,
             CAST(sum(CASE WHEN h.doc_id IS NOT NULL AND NOT h.leaked
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ingested
      FROM dm LEFT JOIN hits h ON dm.doc_id = h.doc_id
      GROUP BY 1)
  SELECT rep.lang, rep.n_delta, rep.n_leaked, rep.n_dup, rep.n_ingested,
         COALESCE(pk.n_seqs, 0)        AS n_seqs,
         COALESCE(pk.packed_tokens, 0) AS packed_tokens
  FROM rep LEFT JOIN pk ON rep.lang = pk.lang
"""
    )


@register(
    "corpus_ingest_incremental",
    oracle=_ingest_oracle(),
    tags=("north_star", "pipeline", "dedup", "incremental", "streaming_face"),
)
def corpus_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language crawl-ingest report: (lang, n_delta, n_leaked,
    n_dup, n_ingested, n_seqs, packed_tokens). Stage semantics in the
    module docstring.

    Scale story: the ONLY pair work is the banded delta-vs-corpus probe
    (MinHash band keys equi-join the corpus posting frame — at
    production the bucketed table dedup_minhash_persist maintains, so a
    landed batch costs batch·bands lookups and the corpus is never
    re-paired); candidates verify with exact Jaccard; banding recall at
    the 8×2 operating point is 100% on this corpus
    (tests/test_dedup_recall.py), so the key carries the exact oracle —
    the same adjudication as dedup_incremental. The hit frame collapses
    to ≤|delta| rows, broadcast into the anti-join; eval membership is
    scan-side hash arithmetic on the corpus_id (knuth32: exact over the
    full int64 domain); packing is the bounded (lang, shard) fold whose
    report needs only per-shard bin counts, so no offset stitch. At
    100 TB every exchange is delta-sized except the one posting probe,
    which is the corpus's bucket layout."""
    from etl_cnpjs_spark.functions.text import tokens
    from etl_cnpjs_spark.operators.packing import greedy_pack_bins
    from etl_cnpjs_spark.plans.dedup import (
        _INCR_SPLIT,
        _banded8x2,
        JACCARD_THRESHOLD,
    )
    from etl_cnpjs_spark.plans.corpus import _KEEP
    from etl_cnpjs_spark.plans.text import (
        GREEDY_PACK_BUDGET,
        GREEDY_SHARD_WIDTH,
    )
    from etl_cnpjs_spark.plans.registry import knuth32

    # banded signatures once per session (shared with dedup_incremental
    # — the persisted posting-table role); consumed by postings AND the
    # verify sides
    signed = _banded8x2(spark, sf_dir)
    corpus = signed.filter(F.col("doc_id") < _INCR_SPLIT)
    delta = signed.filter(F.col("doc_id") >= _INCR_SPLIT)

    cposts = corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.posexplode("bk").alias("band", "key"),
    )
    dposts = delta.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode("bk").alias("band", "key"),
    )
    cands = dposts.join(cposts, ["band", "key"]).select("new_id", "corpus_id").distinct()

    sa = corpus.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sha"))
    sb = delta.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    hits = (
        cands.join(sa, "corpus_id")
        .join(sb, "new_id")
        .filter((inter / union) >= JACCARD_THRESHOLD)
        .select(
            F.col("new_id").alias("doc_id"),
            (knuth32(F.col("corpus_id")) < F.lit(_KEEP)).alias("vs_eval"),
        )
        .groupBy("doc_id")
        .agg(F.max("vs_eval").alias("leaked"))
        # ≤|delta| rows; consumed by the report join AND the anti-join
        .localCheckpoint()
    )

    # dm has two consumers (survivor pack + report aggregate) but is
    # deliberately NOT barriered: a localCheckpoint here measured
    # 1.98 → 2.39 s isolated (r13) — the materialization job costs more
    # than the duplicated scan+tokenize it saves (unlike
    # doc_pack_greedy_sharded, where the duplicated subtree includes a
    # pandas fold).
    dm = (
        table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") >= _INCR_SPLIT) & (F.length(F.trim("text")) > 0)
        )
        .select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens"))
    )

    # survivors -> bounded sharded greedy pack (report needs only
    # per-shard bin counts, so the offset stitch drops out)
    surv = dm.join(F.broadcast(hits), "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"doc_id DIV {GREEDY_SHARD_WIDTH}").alias("shard"),
    )
    packed = surv.groupBy("lang", "shard").applyInPandas(
        greedy_pack_bins(GREEDY_PACK_BUDGET),
        "doc_id long, lang string, n_tokens int, shard long, bin long",
    )
    pk = (
        packed.groupBy("lang", "shard")
        .agg(
            (F.max("bin") + 1).cast("bigint").alias("bins"),
            F.sum("n_tokens").cast("bigint").alias("tok"),
        )
        .groupBy("lang")
        .agg(
            F.sum("bins").cast("bigint").alias("n_seqs"),
            F.sum("tok").cast("bigint").alias("packed_tokens"),
        )
    )

    rep = (
        dm.join(F.broadcast(hits), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delta"),
            F.sum(F.when(F.col("leaked"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
            F.sum(
                F.when(F.col("leaked").isNotNull() & ~F.col("leaked"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dup"),
            F.sum(F.when(F.col("leaked").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ingested"),
        )
    )
    return rep.join(pk, "lang", "left").select(
        "lang",
        "n_delta",
        "n_leaked",
        "n_dup",
        "n_ingested",
        F.coalesce("n_seqs", F.lit(0)).cast("bigint").alias("n_seqs"),
        F.coalesce("packed_tokens", F.lit(0)).cast("bigint").alias("packed_tokens"),
    )


_ORACLE = (
    _SQL_PAIRS
    + rf"""
  , q AS (
    SELECT doc_id, lang, source,
           len({_SQL_TOKS}) AS n_tokens,
           (len({_SQL_TOKS}) >= {_MIN_TOKENS}
            AND len(list_distinct({_SQL_TOKS}))
                  / greatest(len({_SQL_TOKS}), 1) >= {_MIN_DISTINCT_RATIO}
            AND {_sql_hits(STOPWORDS)}
                  / greatest(len({_SQL_TOKS}), 1) >= {_MIN_STOP_RATIO}) AS keep_q,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM documents),
  ex AS (SELECT doc_id, (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS is_exact
         FROM q WHERE keep_q),
  drops AS (SELECT DISTINCT p2.j AS doc_id
            FROM pairs p2 JOIN ex ON p2.i = ex.doc_id AND ex.is_exact),
  fin AS (
    SELECT q.lang, q.source, q.n_tokens, q.keep_q,
           COALESCE(ex.is_exact, FALSE) AS is_exact,
           (COALESCE(ex.is_exact, FALSE) AND drops.doc_id IS NULL) AS is_final
    FROM q LEFT JOIN ex ON q.doc_id = ex.doc_id
           LEFT JOIN drops ON q.doc_id = drops.doc_id)
  SELECT lang, source,
         COUNT(*) AS n_docs,
         CAST(sum(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         CAST(sum(CASE WHEN is_final THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         CAST(sum(CASE WHEN is_final THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_final
  FROM fin GROUP BY lang, source
"""
)


@register("corpus_curate", oracle=_ORACLE, tags=("north_star", "text", "dedup", "pipeline"))
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter → exact dedup → greedy near-dup drop → funnel
    report. See module docstring for stage semantics."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    keep_q = (
        (n >= _MIN_TOKENS)
        & (F.size(F.array_distinct(toks)) / safe_n >= _MIN_DISTINCT_RATIO)
        & (token_overlap_count(toks, STOPWORDS) / safe_n >= _MIN_STOP_RATIO)
    )
    # barrier: base feeds three join branches (itself, ex, drops-via-ex);
    # unmaterialized, Spark would re-scan + re-tokenize the corpus per
    # branch (same rationale as dedup.py::_doc_shingles)
    base = d.select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_tokens"),
        keep_q.alias("keep_q"),
        F.md5(normalized_text(F.col("text"))).alias("fp"),
    ).localCheckpoint()

    # exact dedup among quality survivors: smallest doc_id per fingerprint
    ex = (
        base.filter("keep_q")
        .withColumn("is_exact", F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")))
        .select("doc_id", "is_exact")
    )

    # greedy near-dup drop: j goes when its smaller partner i survived
    pairs = _exact_pairs(spark, sf_dir)
    drops = (
        pairs.join(ex.filter("is_exact").withColumnRenamed("doc_id", "i"), "i")
        .select(F.col("j").alias("doc_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )

    fin = (
        base.join(ex, "doc_id", "left")
        .join(drops, "doc_id", "left")
        .select(
            "lang",
            "source",
            "n_tokens",
            "keep_q",
            F.coalesce("is_exact", F.lit(False)).alias("is_exact"),
            (F.coalesce("is_exact", F.lit(False)) & F.col("__dropped").isNull()).alias(
                "is_final"
            ),
        )
    )
    flag = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))  # noqa: E731
    return fin.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        flag("keep_q").alias("n_quality"),
        flag("is_exact").alias("n_exact"),
        flag("is_final").alias("n_final"),
        F.sum(F.when(F.col("is_final"), F.col("n_tokens")).otherwise(0)).alias("tokens_final"),
    )


# --- mixture sampling ------------------------------------------------------

# Per-language keep rates for the target training mixture. Thresholds are
# exact integers on the same multiplicative-hash ring as sample_hash /
# sample_stratified (Knuth 2654435761 mod 2^32), so membership is a pure
# bigint comparison both engines compute identically.
_MIX_KNUTH = 2654435761
_MIX_MOD = 4294967296  # 2^32
_MIX_RATES = {"en": 1.0, "zh": 0.75, "de": 0.5, "fr": 0.5, "es": 0.25}
_MIX_THRESH = {k: int(v * _MIX_MOD) for k, v in _MIX_RATES.items()}

_MIX_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {t}" for k, t in _MIX_THRESH.items()
) + " ELSE 0 END"


@register(
    "sample_weighted_mix",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * {_MIX_KNUTH}) % {_MIX_MOD} < {_MIX_CASE_SQL}
    """,
    tags=("north_star", "sampling", "pipeline"),
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: down/up-weight sources to a target
    training mix (here per-language rates: en 100%, zh 75%, de/fr 50%,
    es 25%) — the step that turns a curated pool into the corpus a run
    actually trains on. Membership is a hash of the stable key, NOT
    rand(): re-runs, backfills, and a resumed 100 TB job all select the
    same rows, and changing one rate re-decides only that stratum.
    Physically a scan-side filter — no shuffle, no state, prunes to the
    three needed columns.

    Key-domain caveat (same as sample_hash): the Knuth
    multiplicative hash runs in BIGINT, so doc_id must stay < 2^63 /
    2654435761 ≈ 3.47e9 or the product overflows (errors under Spark
    ANSI and DuckDB alike). Fine for this corpus's dense ids; above
    ~2^31 keys switch the PRF to a portable 64-bit hash (e.g. the
    md5-half scheme operators/dedup.py uses for SimHash)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", "source").filter(
        (F.col("doc_id") * _MIX_KNUTH) % _MIX_MOD < _mix_threshold_col()
    )


# --- shared curation helpers ------------------------------------------------


def _mix_threshold_col():
    """Per-language keep-threshold column on the hash ring (shared by
    sample_weighted_mix and corpus_training_set so the two can never
    de-sync on rates)."""
    thresh = F.lit(0)
    for lang, t in _MIX_THRESH.items():
        thresh = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thresh)
    return thresh


def _contaminated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct non-benchmark doc_ids sharing ≥1 shingle with the
    benchmark set (the composite's drop list)."""
    probe, bench = _bench_ngram_frames(spark, sf_dir)
    return (
        probe.join(F.broadcast(bench), probe.s == bench.bs)
        .select("doc_id")
        .distinct()
    )


# --- full training-set materialization -------------------------------------

_TRAIN_ORACLE = (
    _SQL_SHINGLES
    + rf"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  bench AS (SELECT doc_id AS bench_id, s FROM e WHERE doc_id % {_BENCH_MOD} = 0),
  contaminated AS (
    SELECT DISTINCT e.doc_id FROM e JOIN bench ON e.s = bench.s
    WHERE e.doc_id % {_BENCH_MOD} <> 0),
  q AS (
    SELECT doc_id, lang,
           len({_SQL_TOKS}) AS n_tokens,
           (len({_SQL_TOKS}) >= {_MIN_TOKENS}
            AND len(list_distinct({_SQL_TOKS}))
                  / greatest(len({_SQL_TOKS}), 1) >= {_MIN_DISTINCT_RATIO}
            AND {_sql_hits(STOPWORDS)}
                  / greatest(len({_SQL_TOKS}), 1) >= {_MIN_STOP_RATIO}) AS keep_q,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % {_BENCH_MOD} <> 0),
  ex AS (SELECT doc_id, lang, n_tokens,
                (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS is_exact
         FROM q WHERE keep_q),
  surv AS (
    SELECT ex.doc_id, ex.lang, ex.n_tokens
    FROM ex LEFT JOIN contaminated c ON ex.doc_id = c.doc_id
    WHERE ex.is_exact AND c.doc_id IS NULL
      AND (ex.doc_id * {_MIX_KNUTH}) % {_MIX_MOD} < {_MIX_CASE_SQL}),
  packed AS (
    SELECT lang, n_tokens, doc_id,
           COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM surv)
  SELECT lang, CAST(off // {_PACK_BUDGET} AS BIGINT) AS seq_id,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
         MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
  FROM packed GROUP BY lang, seq_id
"""
)


@register(
    "corpus_training_set",
    oracle=_TRAIN_ORACLE,
    tags=("north_star", "text", "dedup", "pipeline", "sampling"),
)
def corpus_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-set materialization as ONE oracle-checked
    plan: quality gates → exact dedup (canonical = smallest doc_id per
    fingerprint) → benchmark exclusion + n-gram decontamination →
    per-language mixture sampling → 512-token sequence packing. This is
    the composite a pretraining data job actually ships; every stage
    reuses the verified standalone operator's code — the contamination
    drop list, mixture threshold, and packing report are the SAME
    helper functions the standalone keys call
    (_contaminated_ids / _mix_threshold_col / _pack_report), so the
    composite cannot drift from what the driver verified.

    Distributed shape, end to end: one corpus scan builds the flag
    frame (doc_id, lang, n_tokens, keep_q, fp — ~50 bytes/doc; the
    TEXT never moves again after this scan). What shuffles is only
    that flag frame: once on fp for the canonical-min window, once on
    doc_id for the contamination anti-join (sort-merge — the drop list
    is corpus-bounded, so no broadcast assumption; AQE promotes it
    when it is small), once on lang for the packing window whose
    groupBy reuses the same partitioning. The benchmark n-gram set
    broadcasts inside _contaminated_ids, and the mixture filter is
    scan-side arithmetic — zero extra exchanges."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % _BENCH_MOD != 0)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    keep_q = (
        (n >= _MIN_TOKENS)
        & (F.size(F.array_distinct(toks)) / safe_n >= _MIN_DISTINCT_RATIO)
        & (token_overlap_count(toks, STOPWORDS) / safe_n >= _MIN_STOP_RATIO)
    )
    base = d.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        keep_q.alias("keep_q"),
        F.md5(normalized_text(F.col("text"))).alias("fp"),
    )

    ex = (
        base.filter("keep_q")
        .withColumn(
            "is_exact",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")),
        )
        .filter("is_exact")
        .select("doc_id", "lang", "n_tokens")
    )

    surv = ex.join(
        _contaminated_ids(spark, sf_dir), "doc_id", "left_anti"
    ).filter((F.col("doc_id") * _MIX_KNUTH) % _MIX_MOD < _mix_threshold_col())

    return _pack_report(surv)


# --- corpus_dedup_sweep ------------------------------------------------------
#
# The dedup-family capstone (round-6 queue item landed in round 5): the
# whole dedup arsenal chained as ONE pipeline over the corpus —
#
#     documents
#       → exact dedup        (identical text, keep min doc_id)
#       → near-dup removal   (Jaccard ≥ 0.8 pairs → connected components,
#                             keep the component-min doc — dedup_canonical's
#                             transitive rule)
#       → containment prune  (drop a survivor whose shingles are ≥ 90%
#                             contained in ANOTHER stage-2 survivor —
#                             quotes/excerpts/doc-in-doc that Jaccard's
#                             size-ratio crushing structurally misses)
#       → per-source funnel report (one row per source, four nested counts)
#
# Stage composition is sound without iteration: a component's min doc_id
# is always an exact-dedup keeper (identical texts share shingle sets, so
# they are jaccard-1 neighbors — the component min IS its text-group min),
# and mutual ≥ 0.9 containment forces Jaccard ≥ 0.9·max/(min+0.1·max) >
# 0.8, so two stage-2 survivors can never contain each other — the
# containment drop is well-defined with no tie-break needed. The prune
# checks against STAGE-2 survivors (one anti-join, no iteration), the
# same single-pass discipline corpus_curate documents for its near-dup
# rule.

_SWEEP_CONTAIN = 0.9  # == plans.dedup.CONTAINMENT_THRESHOLD (asserted below)


def _sweep_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_CLUSTER, CONTAINMENT_THRESHOLD

    assert _SWEEP_CONTAIN == CONTAINMENT_THRESHOLD
    ctes = _SQL_CLUSTER.replace(
        "SELECT d2.doc_id, coalesce(c.component, d2.doc_id) AS component\n"
        "  FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.a",
        "",
    ).rstrip().rstrip(",")
    return (
        ctes
        + f"""
  , tmin AS (SELECT text, min(doc_id) AS keeper FROM documents GROUP BY text),
  fl AS (
    SELECT d.doc_id, d.source,
           (d.doc_id = t.keeper)                          AS ex_keep,
           (coalesce(c.component, d.doc_id) = d.doc_id)   AS comp_keep
    FROM documents d
    JOIN tmin t ON d.text = t.text
    LEFT JOIN comp c ON d.doc_id = c.a),
  surv AS (SELECT doc_id FROM fl WHERE ex_keep AND comp_keep),
  cont AS (
    SELECT b2.src
    FROM (SELECT i AS src, j AS dst, inter FROM p
          UNION ALL SELECT j, i, inter FROM p) b2
    JOIN sz s1 ON b2.src = s1.doc_id
    JOIN surv su ON b2.src = su.doc_id
    JOIN surv sd ON b2.dst = sd.doc_id
    WHERE b2.inter / s1.n >= {CONTAINMENT_THRESHOLD}
    GROUP BY b2.src)
  SELECT f.source,
         COUNT(*) AS n_docs,
         COUNT(CASE WHEN f.ex_keep THEN 1 END) AS kept_exact,
         COUNT(CASE WHEN f.ex_keep AND f.comp_keep THEN 1 END) AS kept_near,
         COUNT(CASE WHEN f.ex_keep AND f.comp_keep AND ct.src IS NULL
               THEN 1 END) AS kept_final
  FROM fl f LEFT JOIN cont ct ON f.doc_id = ct.src
  GROUP BY f.source
"""
    )


@register(
    "corpus_dedup_sweep",
    oracle=_sweep_oracle(),
    tags=("north_star", "dedup", "pipeline", "capstone"),
)
def corpus_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact → transitive near-dup → containment, as one per-source
    funnel report: (source, n_docs, kept_exact, kept_near, kept_final).
    See the module-level stage notes above for why the chain composes
    without iteration.

    Scale story: every expensive frame is shared machinery — shingles
    and jaccard pairs are the session-memoized builds the whole dedup
    family reuses; connected components come from dedup_cluster's cached
    labels. The only new work is (a) the exact stage, a window-min over
    a 128-bit text hash (seeded xxhash64 pair — r14 widening, VERDICT
    r13 #3: a single 64-bit key hits P(collision)=1% near 6×10⁸ docs,
    inside the 100 TB posture, where a collision silently merges two
    DISTINCT documents; 16-byte keys still beat shuffling bodies), and
    (b) containment restricted to stage-2
    SURVIVORS — the posting self-join runs on the already-deduplicated
    corpus, which is exactly how a production sweep orders its passes
    (cheapest/highest-yield reductions first so later quadratic-ish
    stages see fewer rows). The report is one conditional-count
    aggregate on (source): a small final shuffle."""
    from pyspark.sql import Window as W

    from etl_cnpjs_spark.operators.dedup import containment_pairs
    from etl_cnpjs_spark.plans.dedup import (
        CONTAINMENT_THRESHOLD,
        _doc_shingles,
        dedup_cluster,
    )

    d = table(spark, sf_dir, "documents")
    labels = dedup_cluster(spark, sf_dir)  # (doc_id, component), memoized CC

    fl = (
        d.select(
            "doc_id",
            "source",
            F.xxhash64("text").alias("th1"),
            F.xxhash64(F.lit(1), "text").alias("th2"),
        )
        .withColumn("keeper", F.min("doc_id").over(W.partitionBy("th1", "th2")))
        .withColumn("ex_keep", F.col("doc_id") == F.col("keeper"))
        .join(labels, "doc_id")
        .withColumn("comp_keep", F.col("component") == F.col("doc_id"))
        .select("doc_id", "source", "ex_keep", "comp_keep")
        # consumed by TWO branches (survivor set for containment, report
        # join) — barrier it or the scan+hash-window+labels join runs
        # twice (the _doc_shingles discipline; frame is 4 narrow cols)
        .localCheckpoint()
    )
    surv = fl.filter(F.col("ex_keep") & F.col("comp_keep")).select("doc_id")
    sh_surv = _doc_shingles(spark, sf_dir).join(surv, "doc_id", "left_semi")
    dropped = (
        containment_pairs(sh_surv, "doc_id", "sh", CONTAINMENT_THRESHOLD)
        .select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("contained", F.lit(True))
    )
    rep = fl.join(dropped, "doc_id", "left")
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("ex_keep"), 1)).alias("kept_exact"),
        F.count(F.when(F.col("ex_keep") & F.col("comp_keep"), 1)).alias("kept_near"),
        F.count(
            F.when(
                F.col("ex_keep") & F.col("comp_keep") & F.col("contained").isNull(), 1
            )
        ).alias("kept_final"),
    )


# --- sample_temperature_mix --------------------------------------------------

_TEMP_ALPHA_NOTE = 0.5  # α = 0.5 → rates ∝ sqrt (documentation constant)


def temperature_rate_table(counts):
    """(lang, nl) -> (lang, thresh): the alpha = 0.5 temperature keep
    thresholds, floor(sqrt(n_min / n_l) * 2^32) — THE one definition of
    the mixture formula (shared by sample_temperature_mix and
    corpus_build's mixture stage; the SQL twins mirror it). sqrt is
    IEEE-correctly-rounded, so both engines land on identical
    thresholds with no quantization. |langs|-row frame; the min rides a
    broadcast 1-row frame, never a driver scalar."""
    m = counts.agg(F.min("nl").alias("nmin"))
    return counts.crossJoin(F.broadcast(m)).select(
        "lang",
        F.floor(
            F.sqrt(F.col("nmin").cast("double") / F.col("nl").cast("double"))
            * F.lit(_MIX_MOD)
        )
        .cast("bigint")
        .alias("thresh"),
    )


@register(
    "sample_temperature_mix",
    oracle=f"""
    WITH n AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nl
      FROM documents GROUP BY lang),
    m AS (SELECT MIN(nl) AS nmin FROM n),
    r AS (
      SELECT n.lang,
             CAST(floor(sqrt(CAST(m.nmin AS DOUBLE) / CAST(n.nl AS DOUBLE))
                        * {_MIX_MOD}) AS BIGINT) AS thresh
      FROM n, m)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE (d.doc_id * {_MIX_KNUTH}) % {_MIX_MOD} < r.thresh
    """,
    tags=("north_star", "sampling", "pipeline", "ml"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (α = 0.5): per-language keep
    rates DERIVED from corpus statistics so post-sample counts follow
    n_l^α — the standard multilingual rebalancing (upweight low-resource
    languages, flatten the head) — instead of sample_weighted_mix's
    hand-set rates. The smallest language keeps 100%
    (r_l = (n_min / n_l)^(1-α) = sqrt(n_min / n_l) at α = 0.5); every
    other rate follows from the data, so the mix self-adjusts as the
    corpus grows. Membership stays the deterministic Knuth-hash
    threshold (rerun/backfill-stable; same key-domain caveat as
    sample_weighted_mix).

    Float-portability: sqrt is IEEE-correctly-rounded (unlike log/exp —
    the libm sharp edge), and its argument is one exact-rounded division
    of exact bigint counts, so both engines land on the identical
    threshold with no quantization.

    Scale story: the rate table is |langs| rows computed by one
    map-side-combined count aggregate; it broadcast-joins onto the
    corpus scan, so the whole selection is scan-side — no shuffle of
    documents, no driver-side scalars (the min rides a 1-row frame)."""
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
    r = temperature_rate_table(n)
    return (
        d.select("doc_id", "lang", "source")
        .join(F.broadcast(r), "lang")
        .filter((F.col("doc_id") * _MIX_KNUTH) % _MIX_MOD < F.col("thresh"))
        .select("doc_id", "lang", "source")
    )
