"""Extended relational surface beyond SURVEY.md §2's minimum inventory:
exact quantiles, grouping sets, per-group top-k, deterministic sampling,
map functions, unpivot, full-outer join.

The reference has none of these (its analytical surface is one SPJ query,
`ETLCNPJFinalEmpresaEstabelecimentos.py:191-234`), but a 100 TB training
-data pipeline uses every one of them: quantiles for quality-score
thresholds, hash sampling for held-out splits, top-k-per-group for
per-source caps, unpivot for metric normalization.

Determinism notes:
- quantiles: Spark `percentile` (exact, linear interpolation) vs DuckDB
  `quantile_cont`; interpolation arithmetic may differ in op order, so
  both sides quantize interpolated outputs to 6 dp (residual: the two
  engines' interpolation arithmetic differs below the grid).
- sample_hash: multiplicative hashing (Knuth 2654435761) in exact bigint
  arithmetic — identical in both engines. Keys here are < 2^33 so the
  product fits bigint; at real scale swap in xxhash64/murmur3 (engine
  hash, oracle becomes rows-only).
- every window/top-k ordering carries a unique-key tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.functions.text import tokens
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register
from etl_cnpjs_spark.staging import session_tmpdir, staged

_QS = (0.25, 0.5, 0.75, 0.95)


@register(
    "agg_quantile",
    oracle=f"""
    SELECT l_returnflag,
           {", ".join(f"round(quantile_cont(l_quantity, {q}), 6) AS qty_p{int(q * 100)}" for q in _QS)},
           round(quantile_cont(l_extendedprice, 0.5), 6) AS price_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "quantile"),
)
def agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (linear interpolation): Spark `percentile`
    — a full sort-based aggregate, the exact twin of the
    `approx_percentile` sketch already covered by agg_approx_distinct's
    family. At 100 TB exact percentiles of a numeric column are still
    feasible (single shuffle on the group key); per-key sorts spill."""
    l = table(spark, sf_dir, "lineitem", parallel=True)
    return l.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(q)), 6).alias(f"qty_p{int(q * 100)}")
            for q in _QS
        ],
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("price_median"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-flag,
    per-status, and grand total in one pass — Spark expands to a single
    Expand + hash aggregate (one shuffle, partial aggregation map-side).
    gid disambiguates the NULL produced by grouping from a NULL value."""
    l = table(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "window_topk_group",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
      FROM lineitem) t
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def window_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per supplier by price — the per-group cap every
    training pipeline applies (max docs per domain/source). One shuffle on
    the group key; rank+filter prunes inside the sort, and AQE handles
    skewed groups. Total order via (price DESC, orderkey, linenumber)."""
    l = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        l.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
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


@register(
    "fn_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity                                    AS qty_val,
           2                                             AS n_entries,
           'price,qty'                                   AS keys_csv,
           l_quantity * 2                                AS qty_doubled,
           l_extendedprice                               AS price_val
    FROM lineitem
    """,
    tags=("fn", "map"),
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build map<string,double> per row
    (map_from_arrays), then element_at, map_keys (sorted → csv), size,
    transform_values, map_concat. The oracle states the semantically
    equal scalar results directly — map construction is Spark-side
    machinery; ground truth is the values. All JVM built-ins."""
    l = table(spark, sf_dir, "lineitem", parallel=True)
    mp = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price")),
        F.array(F.col("l_quantity"), F.col("l_extendedprice")),
    )
    doubled = F.transform_values(mp, lambda _, v: v * 2)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(mp, "qty").alias("qty_val"),
        F.size(mp).alias("n_entries"),
        F.concat_ws(",", F.array_sort(F.map_keys(mp))).alias("keys_csv"),
        F.element_at(doubled, "qty").alias("qty_doubled"),
        F.element_at(F.map_concat(mp), "price").alias("price_val"),
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of part's numeric metrics — the inverse of
    agg_pivot. Spark's native `unpivot` expands in-place (Expand node):
    no shuffle, output rows = rows × metrics."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "agg_argmax",
    oracle="""
    SELECT c_nationkey,
           max(c_acctbal)  AS max_bal,
           (SELECT t.c_name FROM customer t
             WHERE t.c_nationkey = c.c_nationkey
             ORDER BY t.c_acctbal DESC, t.c_custkey DESC LIMIT 1) AS richest,
           (SELECT t.c_name FROM customer t
             WHERE t.c_nationkey = c.c_nationkey
             ORDER BY t.c_acctbal ASC, t.c_custkey ASC LIMIT 1)  AS poorest
    FROM customer c
    GROUP BY c_nationkey
    """,
    tags=("agg", "argmax"),
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates: the name of the customer with the
    highest/lowest balance per nation, via max_by/min_by over a
    (value, unique-key) struct — the struct tiebreak makes the argmax
    total (max_by alone is nondeterministic under value ties, which the
    driver's hash would catch). One shuffle, map-side partials."""
    c = table(spark, sf_dir, "customer")
    by_hi = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    # min_by on (bal, -key): ties on bal resolve to the SMALLEST key,
    # mirroring the oracle's ASC, ASC order
    by_lo = F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("nk"))
    return c.groupBy("c_nationkey").agg(
        F.max("c_acctbal").alias("max_bal"),
        F.max_by("c_name", by_hi).alias("richest"),
        F.min_by("c_name", by_lo).alias("poorest"),
    )


@register(
    "profile_table",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_totalprice,
             nullif(o_orderpriority, '1-URGENT') AS prio
      FROM orders)
    SELECT CAST(count(*) AS BIGINT)                  AS n_rows,
           CAST(count(prio) AS BIGINT)               AS prio_filled,
           CAST(count(*) - count(prio) AS BIGINT)    AS prio_nulls,
           (count(*) - count(prio)) / count(*)       AS prio_null_rate,
           CAST(count(DISTINCT prio) AS BIGINT)      AS prio_distinct,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS key_distinct
    FROM s
    """,
    tags=("profile", "qa"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling / reconciliation aggregate — the readme's manual QA
    (`readme.md:140-145`: count parity, null/inconsistency checks) as one
    engine pass: row count, per-column filled/null counts, null rate,
    distinct cardinalities. `nullif` derives a genuinely nullable column
    so the null arithmetic is exercised. One job, no joins; at 100 TB
    swap exact distincts for approx_count_distinct."""
    o = table(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio"),
    )
    n, filled = F.count(F.lit(1)), F.count("prio")
    return s.agg(
        n.alias("n_rows"),
        filled.alias("prio_filled"),
        (n - filled).alias("prio_nulls"),
        ((n - filled) / n).alias("prio_null_rate"),
        F.count_distinct("prio").alias("prio_distinct"),
        F.count_distinct("o_orderkey").alias("key_distinct"),
    )


@register(
    "window_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT)  AS quartile,
           percent_rank() OVER w          AS pct_rank,
           cume_dist() OVER w             AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "rank"),
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles + percent_rank + cume_dist
    per priority class — the quality-score bucketing shape (split a
    corpus into quality quartiles per source). Total order via
    (totalprice, orderkey); the rank fractions are integer-derived
    divisions, bit-identical across engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                       AS lo_byte,
           l_orderkey | 4096                      AS set_bit,
           xor(l_orderkey, l_linenumber::BIGINT)  AS xored,
           l_orderkey << 2                        AS shl,
           l_orderkey >> 3                        AS shr,
           CAST(bit_count(l_orderkey) AS INT)     AS popcount
    FROM lineitem
    """,
    tags=("fn", "bitwise"),
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise kernel (hash/bucket/bitmap machinery: SimHash hamming,
    salt mixing, bloom-filter style bucketing all reduce to these)."""
    l = table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("lo_byte"),
        k.bitwiseOR(F.lit(4096)).alias("set_bit"),
        k.bitwiseXOR(F.col("l_linenumber").cast("bigint")).alias("xored"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


@register(
    "fn_struct",
    oracle="""
    SELECT c_custkey,
           c_nationkey                                   AS nk,
           floor(c_acctbal * 1e2 + 0.5) / 1e2            AS bal,
           ((c_nationkey, c_acctbal) < (7, 0.0))         AS below,
           ((c_nationkey, c_acctbal) = (c_nationkey, c_acctbal)) AS self_eq
    FROM customer
    """,
    tags=("fn", "struct"),
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct surface: build struct<nationkey,acctbal> per row,
    read fields back, and use Spark's lexicographic struct comparison —
    the DuckDB oracle mirrors it with tuple comparison. Structs are the
    unit of nesting every multimodal/metadata column uses (mm_meta's
    typed metadata is a struct); this pins field access + ordering
    semantics."""
    c = table(spark, sf_dir, "customer")
    s = F.struct(F.col("c_nationkey").alias("nk"), F.col("c_acctbal").alias("bal"))
    probe = F.struct(F.lit(7).alias("nk"), F.lit(0.0).alias("bal"))
    return c.select(
        "c_custkey",
        s.getField("nk").alias("nk"),
        quantize(s.getField("bal"), 2).alias("bal"),
        (s < probe).alias("below"),
        (s == s).alias("self_eq"),
    )


@staged("binstage")
def _stage_bin_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 50-doc slice as .bin files EXECUTOR-side: each partition
    writes its own rows straight from the task (foreachPartition), the
    driver never holds the bytes. On local mode the staging dir is local
    tmp; on a cluster the same shape writes to shared storage. Staged
    per (session, sf) — staging is input setup, not query work."""
    import os

    out = session_tmpdir("binfiles_")
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def write_partition(rows):
        for r in rows:
            with open(os.path.join(out, f"doc_{r.doc_id:06d}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    d.select("doc_id", "text").foreachPartition(write_partition)
    return out


@register(
    "scan_binaryfile",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))                 AS n_bytes,
           hex(encode(text))                          AS content_hex
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("source", "binary", "north_star"),
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source — how raw media (images/audio/shards)
    enters the engine at scale: one row per file with (path, length,
    content: binary). Stages a deterministic 50-doc slice as .bin files
    (executor-side, see _stage_bin_files), reads them back through the
    format, recovers the id from the filename, and fingerprints the
    bytes. The oracle recomputes length + prefix from the source table —
    proving the file round trip is byte-faithful. At 100 TB: binaryFile
    parallelizes per-file; maxBytesPerTrigger/pathGlobFilter control
    batch size."""
    out = _stage_bin_files(spark, sf_dir)
    files = spark.read.format("binaryFile").load(out)
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.hex("content").alias("content_hex"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pk,
                      o_totalprice
               FROM orders),
         d AS (SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS pk,
                      upper(coalesce(nullif(o_orderpriority, '1-URGENT'), 'urgent')) AS label
               FROM orders)
    SELECT o.o_orderkey, o.o_totalprice, d.label
    FROM o JOIN d ON o.pk IS NOT DISTINCT FROM d.pk
    """,
    tags=("join", "null_safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — exactly the join the
    reference's null-heavy CNPJ dims need when code columns are blank
    (a plain inner join erases those rows, SURVEY.md §1.2's orphan
    semantics). eqNullSafe keys still hash-partition normally; a
    NULL-heavy key is a skew key like any other (salt it)."""
    o_t = table(spark, sf_dir, "orders")
    o = o_t.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pk"),
        "o_totalprice",
    )
    d = (
        o_t.select(F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pk"))
        .distinct()
        .select("pk", F.upper(F.coalesce(F.col("pk"), F.lit("urgent"))).alias("label"))
    )
    return o.join(d, o.pk.eqNullSafe(d.pk)).select("o_orderkey", "o_totalprice", "label")


@register(
    "agg_stats_advanced",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)       AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                  AS DOUBLE)                                              AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)  AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(27,6))) AS DOUBLE)                  AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
                  AS DOUBLE)                                              AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           {quantize_sql('sqrt((sxx - sx * sx / n) / (n - 1))')} AS qty_sd,
           {quantize_sql('(sxx - sx * sx / n) / (n - 1)')}       AS qty_var,
           {quantize_sql('(sxy - sx * sy / n) '
                         '/ sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))')}
                                                                 AS qty_price_corr,
           {quantize_sql('(sxy - sx * sy / n) / (n - 1)')}       AS qty_price_cov
    FROM m
    """,
    tags=("agg", "stats"),
)
def agg_stats_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: stddev/variance/correlation/
    covariance — quality-signal machinery (outlier thresholds, feature
    correlation screens). NOT the native stddev/corr aggregates: their
    Welford/co-moment update order is partition-dependent and
    engine-specific, so their outputs differ below the rounding grid
    and flip at grid boundaries. Instead the five raw moments
    (n, Σx, Σx², Σy, Σy², Σxy) accumulate as exact decimals — one
    map-side-combined pass, order-insensitive — and every derived
    statistic is the same IEEE double sequence in both engines
    (the events_anomaly discipline, extended to the bivariate case)."""
    l = table(spark, sf_dir, "lineitem", parallel=True)
    dec = "decimal(27,6)"
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
    )
    n = F.col("n")
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return m.select(
        "l_returnflag",
        quantize(F.sqrt(vx)).alias("qty_sd"),
        quantize(vx).alias("qty_var"),
        quantize(corr).alias("qty_price_corr"),
        quantize(cov).alias("qty_price_cov"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                                                   AS segments_csv,
           CAST(len(list(c_custkey)) AS INT)       AS n_members,
           array_to_string(list_sort(list(c_custkey))[1:5], ',')
                                                   AS first_keys_csv
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("agg", "collect"),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregates: per-group value lists/sets. collect_list
    order is partition-order-dependent, so every exposed collection is
    canonicalized (sort_array / slice of sorted) — the same determinism
    rule the registry mandates for float sums. At 100 TB collect into
    bounded slices only (here: top-5 keys), never unbounded lists.
    Collections leave the plan as csv scalars (driver canonicalizer
    can't sort raw array columns)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments_csv"
        ),
        F.count("c_custkey").cast("int").alias("n_members"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("c_custkey")), 1, 5),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("first_keys_csv"),
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                              AS price_band,
           coalesce(nullif(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio_norm,
           least(o_totalprice, 150000.0)                    AS capped,
           greatest(o_totalprice, 50000.0)                  AS floored,
           (o_orderstatus = 'F')                            AS is_final
    FROM orders
    """,
    tags=("fn", "conditional"),
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional kernel: when/otherwise chains (the engine's CASE —
    also the no-model-dependency classifier shape text analysis uses),
    nullif/coalesce normalization, least/greatest clamping."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")), F.lit("URGENT!")
        ).alias("prio_norm"),
        F.least(F.col("o_totalprice"), F.lit(150000.0)).alias("capped"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floored"),
        (F.col("o_orderstatus") == "F").alias("is_final"),
    )


@register(
    "text_ngram_freq",
    oracle=r"""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''),
    f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok)
    SELECT tok, freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS INT) AS rank
    FROM f
    ORDER BY freq DESC, tok
    LIMIT 50
    """,
    tags=("text", "north_star"),
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency — the first pass of
    every tokenizer/BPE build and stop-token selection (including the
    stop-shingle pruning SCALE.md prescribes for exact dedup). Explode →
    count (map-side partials) → TakeOrdered top-k: the shuffle carries
    (token, partial count), never documents."""
    d = table(spark, sf_dir, "documents")
    toks = d.filter(F.trim("text") != "").select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    f = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return (
        f.select("tok", "freq", F.row_number().over(w).alias("rank"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(50)
    )


@register(
    "events_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT user_id, t_signup, t_click, t_buy,
           (t_signup IS NOT NULL AND t_click > t_signup AND t_buy > t_click)
             AS converted
    FROM f
    WHERE t_signup IS NOT NULL
    """,
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: earliest signup → click → purchase per user, and
    whether they happened in order — the conditional-aggregation shape
    (min over CASE) that computes an entire multi-stage funnel in ONE
    shuffle, instead of chained self-joins per stage."""
    ev = table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    f = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    return f.filter(F.col("t_signup").isNotNull()).select(
        "user_id",
        "t_signup",
        "t_click",
        "t_buy",
        (
            F.col("t_signup").isNotNull()
            & (F.col("t_click") > F.col("t_signup"))
            & (F.col("t_buy") > F.col("t_click"))
        ).alias("converted"),
    )


@register(
    "fn_timezone",
    oracle="""
    SELECT event_id,
           ts - INTERVAL 3 HOUR                                   AS ts_local,
           CAST(hour(ts - INTERVAL 3 HOUR) AS INT)                AS local_hour,
           CAST(CAST(ts - INTERVAL 3 HOUR AS DATE) AS TIMESTAMP)  AS local_day,
           ts                                                     AS ts_roundtrip
    FROM events
    """,
    tags=("fn", "timezone"),
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time localization: UTC event timestamps → America/Sao_Paulo
    local time (the reference's domain is Brazilian registry data), with
    local hour/day derivation and a to_utc round trip. Spark side uses
    the real tzdb API (`from_utc_timestamp`); the oracle states the
    equivalent fixed −03:00 arithmetic — exact for this zone since
    Brazil abolished DST in 2019 and the events corpus is 2024, and
    deliberately independent of the oracle connection's TimeZone
    setting (DuckDB's timezone() reads it; an offset expression
    doesn't)."""
    tz = "America/Sao_Paulo"
    ev = table(spark, sf_dir, "events")
    local = F.from_utc_timestamp("ts", tz)
    return ev.select(
        "event_id",
        local.alias("ts_local"),
        F.hour(local).alias("local_hour"),
        F.date_trunc("day", local).alias("local_day"),
        F.to_utc_timestamp(local, tz).alias("ts_roundtrip"),
    )


@register(
    "fn_hash_digest",
    oracle="""
    SELECT doc_id,
           md5(text)                                  AS content_md5,
           sha256(text)                               AS content_sha256,
           to_base64(encode(text))                    AS content_b64,
           octet_length(encode(text))                 AS n_bytes
    FROM documents WHERE doc_id < 100
    """,
    tags=("fn", "digest", "north_star"),
)
def fn_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressing digests: md5 / sha-256 / base64 over document
    bytes — dedup manifests, cache keys, and shard integrity checks all
    key on these. JVM-side, one pass; unlike xxhash64 these are
    standardized, so the DuckDB oracle reproduces them exactly (the
    cross-engine portability xxhash plans give up)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.md5(blob).alias("content_md5"),
        F.sha2(blob, 256).alias("content_sha256"),
        # Spark's base64 is MIME-flavored (CRLF every 76 chars); strip to
        # the canonical unwrapped form DuckDB (and most tooling) emits
        F.regexp_replace(F.base64(blob), "[\\r\\n]", "").alias("content_b64"),
        F.octet_length(blob).alias("n_bytes"),
    )


@register(
    "fn_regexp",
    oracle=r"""
    SELECT doc_id,
           array_to_string(regexp_extract_all(text, '[A-Za-z]+'), ' ')
                                                                AS words_joined,
           len(regexp_extract_all(text, '[0-9]+'))              AS n_numbers,
           regexp_matches(text, '^[A-Z]')                       AS starts_upper,
           regexp_replace(text, '[0-9]+', '#', 'g')             AS masked
    FROM documents WHERE doc_id < 200
    """,
    tags=("fn", "regexp"),
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp kernel over document text: extract-all (tokenizer
    machinery), match-count, anchor test, global replace. All JVM-side;
    at 100 TB regex cost is linear per row and the usual advice is to
    hoist shared patterns into one pass (as the text_quality plan
    does). extract-all leaves the plan array_join'ed (driver
    canonicalizer can't sort raw array columns)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit("[A-Za-z]+"), 0), " "
        ).alias("words_joined"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_numbers"),
        F.col("text").rlike("^[A-Z]").alias("starts_upper"),
        F.regexp_replace("text", "[0-9]+", "#").alias("masked"),
    )


# Deterministic dirty CSV: row 2 has too few fields, row 4 too many —
# exactly the failure modes of hand-maintained government CSV drops.
_DIRTY_ROWS = [
    "1;alice;10.5",
    "2;bob",  # short row → nulls + corrupt record captured
    "3;carol;7.25",
    "4;dave;1.0;EXTRA",  # long row → corrupt record captured
    "5;erin;3.5",
]


@register(
    "scan_csv_permissive",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alice', 10.5, NULL),
      (2, 'bob',   NULL, '2;bob'),
      (3, 'carol', 7.25, NULL),
      (4, 'dave',  1.0,  '4;dave;1.0;EXTRA'),
      (5, 'erin',  3.5,  NULL)
    ) AS t(id, name, score, corrupt)
    """,
    tags=("source", "csv", "quality"),
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance — the reality of >20 GB hand-published
    CSVs (the reference ingests them blind, etl.py:87; we surface the
    damage instead of silently mangling it). PERMISSIVE mode parses what
    it can, nulls what it can't, and captures each bad line verbatim in
    a corrupt-record column, so a quality gate can count/quarantine them
    (mode=DROPMALFORMED/FAILFAST are the other two postures). The oracle
    states the expected parse outcome row by row."""
    import os
    import tempfile

    path = os.path.join(tempfile.mkdtemp(prefix="dirty_csv_"), "dirty.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(_DIRTY_ROWS) + "\n")
    df = spark.read.csv(
        path,
        sep=";",
        schema="id int, name string, score double, corrupt string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="corrupt",
    )
    return df


_HIST_LO, _HIST_HI, _HIST_BUCKETS = 0.0, 600000.0, 12


@register(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor((o_totalprice - {_HIST_LO})
                      / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})),
                 {_HIST_BUCKETS - 1}) AS INT)            AS bucket,
           {_HIST_LO} + CAST(least(floor((o_totalprice - {_HIST_LO})
                      / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})),
                 {_HIST_BUCKETS - 1}) AS INT)
               * (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS}) AS bucket_lo,
           CAST(count(*) AS BIGINT)                      AS n
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("agg", "histogram", "profile"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram of order values (12 buckets,
    overflow clamped into the last) — the distribution profile behind
    quality-threshold picking and skew diagnosis. Pure integer bucket
    arithmetic (identical in both engines, no float rounding concerns in
    the group keys) + one map-side-combined count shuffle. At 100 TB
    bounds come from a prior approx-quantile pass, not a full min/max
    scan."""
    o = table(spark, sf_dir, "orders")
    width = (_HIST_HI - _HIST_LO) / _HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("o_totalprice") - _HIST_LO) / width),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("int")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(_HIST_LO) + F.col("bucket") * width).alias("bucket_lo"),
            "n",
        )
    )


@register(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
    tags=("sql", "subquery"),
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — written as subqueries, executed
    as joins: Catalyst decorrelates them into left-semi and left-anti
    joins (tests/test_plans.py asserts both appear in the physical plan,
    no nested-loop re-execution per row). The rewrite IS the scale
    property: a naive correlated execution is O(rows × subquery)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("__sq_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM __sq_customer c
        WHERE EXISTS (SELECT 1 FROM __sq_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM __sq_orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT c_custkey,
           (SELECT max(o.o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE c_nationkey = 3
    """,
    tags=("sql", "subquery"),
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-customer max order value):
    Catalyst decorrelates to one aggregate over orders + a left outer
    join — the subquery runs ONCE, not per outer row. NULL for
    order-less customers survives the rewrite (outer join, not inner)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("__sq_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sq_orders")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT max(o.o_totalprice) FROM __sq_orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM __sq_customer c
        WHERE c_nationkey = 3
        """
    )


@register(
    "join_full",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join", "outer"),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — preserves customers with no orders AND orders
    with no customer (none in conformant data, but load-time orphans are
    exactly what the reference's unenforced FKs admit, SURVEY.md §1.2).
    Full outer can't broadcast: sort-merge on the key, one shuffle each
    side — the worst-case join shape, here on purpose."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        "c_name",
        "o_orderkey",
        "o_totalprice",
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


_RANGE_FRAME_US = 600_000_000  # 10 minutes in microseconds


@register(
    "window_range_frame",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT)                    AS cnt_10m,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w
                AS DOUBLE)                                    AS sum_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_RANGE_FRAME_US} PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range", "events"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, count and sum of events in the
    trailing 10 minutes up to and including each event — the per-row
    rolling-window shape (rate limiting, burst detection, trailing
    revenue) that a rows-based frame cannot express when events are
    unevenly spaced. Ordering on integer epoch-micros makes the frame
    bound exact integer arithmetic in both engines (ties = RANGE peers,
    identical semantics), and the double sum goes through DECIMAL
    accumulation per the registry rule. One shuffle on user_id, per-key
    sort within partitions — the same cost envelope as any window plan."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("cnt_10m"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_10m"),
    )


@register(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type ASC) AS rk
      FROM c)
    SELECT user_id, event_type AS modal_type, cnt AS modal_cnt
    FROM r WHERE rk = 1
    """,
    tags=("agg", "mode", "profile"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent event_type per
    user, ties broken by value order. Spark 4 has a mode() aggregate but
    its tie-break is engine-arbitrary — cross-engine determinism needs
    the explicit two-stage shape: count per (group, value) with map-side
    combine (the only full-data shuffle), then a row_number pick over the
    distinct-pairs frame, which is |groups|x|values| — tiny relative to
    the input, so the second shuffle is noise at any scale."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), F.col("cnt").alias("modal_cnt"))
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
