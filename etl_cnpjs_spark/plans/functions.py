"""Scalar function plans (fn_*) and user-defined code (udf_*, udaf_*,
udtf_*): string / date / math / array / map / struct / JSON / XML /
variant / URL / hash / geo surfaces, plus the Python escape hatches —
the CNPJ check-digit pandas UDF, Arrow UDFs, grouped and cogrouped maps,
a pandas UDAF and Python UDTFs.

The reference computes none of these (its dates stay yyyymmdd text,
etl.py:138-142; its money stays decimal-comma text, SURVEY.md §1.3) — but
its *data* demands them, so the engine surfaces each family explicitly.
Python code runs only where the logic needs it; each UDF key's oracle
is the relational form of the same logic, which proves the Python path
computes what the JVM path would.

Oracle-determinism notes:
- regexp_replace: Spark replaces all matches; DuckDB needs the 'g' flag —
  every oracle spells it.
- ln/sqrt go through quantize(…, 6) (floor-based): libm vs JVM may drift an ulp.
- integer '/' yields double in both engines (same IEEE division of the
  same ints → bit-identical).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import StringType

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register
from etl_cnpjs_spark.serde import pickle_by_value


@register(
    "udf_grouped_map",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey), 6)
             AS bal_z
    FROM customer
    """,
    tags=("udf", "grouped_map"),
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-nation z-score normalization of
    account balance — whole-group-at-once Python (each group arrives as
    ONE pandas DataFrame over Arrow), the surface for group-local model
    scoring/fitting that window functions can't express. The oracle is
    the window-function formulation; round(6) absorbs summation-order
    drift between pandas and SQL aggregation. Scale caveat: a group must
    fit one worker's memory — partition-by keys need bounded
    cardinality-per-key (salt or pre-aggregate otherwise)."""
    import pandas as pd

    c = table(spark, sf_dir, "customer")

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        bal = pdf["c_acctbal"]
        z = (bal - bal.mean()) / bal.std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "bal_z": z.round(6),
            }
        )

    return (
        c.select("c_custkey", "c_nationkey", "c_acctbal")
        .groupBy("c_nationkey")
        .applyInPandas(zscore, "c_custkey bigint, c_nationkey int, bal_z double")
    )


# the CNPJ pandas UDF below ships to Python workers — serialize this
# module's functions by value so executors need no package install
pickle_by_value(__name__)


@register(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                                   AS name_upper,
           trim(c_name)                                    AS name_trim,
           length(c_name)                                  AS name_len,
           substr(c_name, 1, 8)                            AS name_prefix,
           replace(c_name, '#', '-')                       AS name_dash,
           regexp_replace(c_name, '[0-9]+', 'N', 'g')      AS name_masked,
           concat_ws('|', c_mktsegment, c_name)            AS seg_name,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0')       AS key_padded
    FROM customer
    """,
    tags=("fn", "string"),
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String kernel: the ops the CNPJ clean layer needs — trim (padding,
    SURVEY.md §7.3-5), regexp (decimal-comma fix), lpad (zero-padded
    codes), concat (full CNPJ assembly). All JVM built-ins."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.trim("c_name").alias("name_trim"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
        F.regexp_replace("c_name", "[0-9]+", "N").alias("name_masked"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
    )


@register(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                    AS order_year,
           CAST(month(o_orderdate) AS INT)                   AS order_month,
           CAST(day(o_orderdate) AS INT)                     AS order_day,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)      AS order_date,
           date_trunc('month', o_orderdate)                  AS month_start,
           CAST(CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS TIMESTAMP)
                                                             AS month_end,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                                                             AS days_since_1995,
           strftime(o_orderdate, '%Y%m%d')                   AS yyyymmdd
    FROM orders
    -- date-valued outputs are surfaced as midnight TIMESTAMPs on both
    -- engines: DATE round-trips differently through pandas (datetime.date
    -- vs datetime64), which would break value-hash comparison.
    """,
    tags=("fn", "date"),
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date kernel — includes the reference's yyyymmdd text form
    (etl.py:138-142) as a *derived* format, with a real DateType
    underneath (typed-layer rule, SURVEY.md §1.3)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        d.cast("date").cast("timestamp").alias("order_date"),
        F.date_trunc("month", d).alias("month_start"),
        F.last_day(d.cast("date")).cast("timestamp").alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_1995"),
        F.date_format(d, "yyyyMMdd").alias("yyyymmdd"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * 1e1 + 0.5) / 1e1       AS price_rounded,
           abs(l_discount - 0.05)                          AS disc_centered,
           CAST(ceil(l_quantity) AS BIGINT)                AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT)               AS qty_floor,
           floor(sqrt(l_extendedprice) * 1e6 + 0.5) / 1e6 AS price_sqrt,
           floor(ln(l_extendedprice + 1) * 1e6 + 0.5) / 1e6 AS price_ln,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           greatest(l_discount, l_tax)                     AS max_rate,
           CAST(sign(l_discount - l_tax) AS DOUBLE)        AS disc_vs_tax
    FROM lineitem
    """,
    tags=("fn", "math"),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math kernel. Per-row IEEE double arithmetic is engine-identical;
    libm-backed ln/sqrt and the decimal display rounding go through the
    floor-based quantize() (registry) so both engines pick the same
    neighbour at decimal half boundaries."""
    li = table(spark, sf_dir, "lineitem")
    p, q, dsc, tax = (F.col(c) for c in ("l_extendedprice", "l_quantity", "l_discount", "l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        quantize(p, 1).alias("price_rounded"),
        F.abs(dsc - 0.05).alias("disc_centered"),
        F.ceil(q).alias("qty_ceil"),
        F.floor(q).alias("qty_floor"),
        quantize(F.sqrt(p)).alias("price_sqrt"),
        quantize(F.log(p + 1)).alias("price_ln"),
        (p * (1 - dsc) * (1 + tax)).alias("charged"),
        F.greatest(dsc, tax).alias("max_rate"),
        F.signum(dsc - tax).alias("disc_vs_tax"),
    )


@register(
    "fn_array",
    oracle="""
    SELECT p_partkey, unnest(string_split(p_type, ' ')) AS type_word
    FROM part
    """,
    tags=("fn", "array"),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + explode — the normalization the reference never does to its
    comma-packed cnae_fiscal_secundaria column (etl.py:48); here applied
    to part.p_type. One row per element; no shuffle (explode is a
    narrow op)."""
    p = table(spark, sf_dir, "part")
    return p.select("p_partkey", F.explode(F.split("p_type", " ")).alias("type_word"))


@register(
    "fn_array_ops",
    oracle="""
    SELECT p_partkey,
           array_to_string(string_split(p_type, ' '), ',')        AS type_words_csv,
           len(string_split(p_type, ' '))                         AS n_words,
           list_contains(string_split(p_type, ' '), 'BRUSHED')    AS has_brushed,
           array_to_string(list_sort(list_distinct(string_split(p_type, ' '))), ',')
                                                                  AS words_csv
    FROM part
    """,
    tags=("fn", "array"),
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array kernel without explode: size/contains/distinct/sort/join —
    all computed inside the row (no fanout, codegen-friendly).

    Boundary rule: the plan's OUTPUT carries only scalar columns — the
    array intermediates are array_join'ed at the projection boundary
    (raw array columns aren't sortable by the driver's pandas
    canonicalizer; the array ops themselves all still execute)."""
    p = table(spark, sf_dir, "part")
    words = F.split("p_type", " ")
    return p.select(
        "p_partkey",
        F.array_join(words, ",").alias("type_words_csv"),
        F.size(words).alias("n_words"),
        F.array_contains(words, "BRUSHED").alias("has_brushed"),
        F.array_join(F.array_sort(F.array_distinct(words)), ",").alias("words_csv"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                    AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT)    AS k_int
    FROM events
    """,
    tags=("fn", "json"),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (JSON text column). Scalar
    get_json_object — no parse-to-struct materialization; at scale prefer
    from_json with a declared schema once per pipeline stage."""
    ev = table(spark, sf_dir, "events", parallel=True)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_int"),
    )


# --- CNPJ check-digit UDF (the only custom compute; SURVEY.md §7.2) --------

_CNPJ_W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_CNPJ_W2 = [6] + _CNPJ_W1


def _cnpj_dv(digits12: str) -> str:
    """Mod-11 check digits for a 12-digit CNPJ stem (8 base + 4 ordem) —
    the public CNPJ algorithm; reference stores dv as data
    (cnpj_dv, etl.py:44) and never validates it."""
    s1 = sum(int(d) * w for d, w in zip(digits12, _CNPJ_W1))
    d13 = 11 - (s1 % 11)
    d13 = 0 if d13 >= 10 else d13
    s2 = sum(int(d) * w for d, w in zip(digits12 + str(d13), _CNPJ_W2))
    d14 = 11 - (s2 % 11)
    d14 = 0 if d14 >= 10 else d14
    return f"{d13}{d14}"


@pandas_udf(StringType())
def cnpj_format_udf(basico: pd.Series) -> pd.Series:
    """Arrow-batched: base8 + ordem '0001' → formatted
    '##.###.###/####-##' with computed check digits. Vectorized enough at
    batch level; pure-Python per value (string munging, not numeric)."""

    def fmt(v) -> str | None:
        if v is None:
            return None
        stem = f"{int(v) % 100_000_000:08d}0001"
        dv = _cnpj_dv(stem)
        return f"{stem[0:2]}.{stem[2:5]}.{stem[5:8]}/{stem[8:12]}-{dv}"

    return basico.map(fmt)


# DuckDB twin of the same arithmetic, over the same synthesized stem.
_CNPJ_ORACLE = """
    WITH stems AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey % 100000000 AS VARCHAR), 8, '0') || '0001' AS stem
      FROM customer
    ), s1 AS (
      SELECT c_custkey, stem,
             list_sum(list_transform(generate_series(1, 12),
               i -> CAST(substr(stem, CAST(i AS INT), 1) AS BIGINT)
                    * ([5,4,3,2,9,8,7,6,5,4,3,2])[i])) AS sum1
      FROM stems
    ), d1 AS (
      SELECT *, CASE WHEN 11 - (sum1 % 11) >= 10 THEN 0 ELSE 11 - (sum1 % 11) END AS d13
      FROM s1
    ), s2 AS (
      SELECT c_custkey, stem, d13,
             list_sum(list_transform(generate_series(1, 13),
               i -> CAST(substr(stem || CAST(d13 AS VARCHAR), CAST(i AS INT), 1) AS BIGINT)
                    * ([6,5,4,3,2,9,8,7,6,5,4,3,2])[i])) AS sum2
      FROM d1
    )
    SELECT c_custkey,
           substr(stem,1,2) || '.' || substr(stem,3,3) || '.' || substr(stem,6,3)
             || '/' || substr(stem,9,4) || '-'
             || CAST(d13 AS VARCHAR)
             || CAST(CASE WHEN 11 - (sum2 % 11) >= 10 THEN 0 ELSE 11 - (sum2 % 11) END AS VARCHAR)
             AS cnpj
    FROM s2
"""


@register("udf_cnpj_format", oracle=_CNPJ_ORACLE, tags=("fn", "udf", "reference"))
def udf_cnpj_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDF (Arrow-batched — never a row-at-a-time Python UDF) that
    formats a full 14-digit CNPJ with mod-11 check digits from a synthetic
    8-digit stem. Oracle re-derives the identical arithmetic in SQL."""
    c = table(spark, sf_dir, "customer")
    return c.select("c_custkey", cnpj_format_udf(F.col("c_custkey")).alias("cnpj"))


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


@register(
    "fn_url",
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             'https://shop.example.com/'
               || lower(replace(o_orderpriority, ' ', '-'))
               || '/' || CAST(o_orderkey AS VARCHAR)
               || '?cust=' || CAST(o_custkey AS VARCHAR)
               || '&status=' || o_orderstatus AS url
      FROM orders)
    SELECT o_orderkey, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]cust=([^&#]*)', 1) AS cust_param
    FROM u
    """,
    tags=("fn", "url"),
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing kernel: build deterministic URLs, then split them back
    into protocol / host / path / query-param with `parse_url` (JVM-side,
    codegen). Host extraction is step one of web-corpus curation —
    host-level dedup, blocklists, per-domain caps. The oracle mirrors
    each part with anchored regexes, proving the extraction semantics
    rather than echoing the same builtin."""
    o = table(spark, sf_dir, "orders", parallel=True)
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.lower(F.regexp_replace(F.col("o_orderpriority"), " ", "-")),
        F.lit("/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?cust="),
        F.col("o_custkey").cast("string"),
        F.lit("&status="),
        F.col("o_orderstatus"),
    )
    d = o.select("o_orderkey", url.alias("url"))
    return d.select(
        "o_orderkey",
        "url",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("cust")).alias("cust_param"),
    )


@register(
    "fn_array_outer",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             CASE WHEN p_size >= 30 THEN CAST([] AS VARCHAR[])
                  ELSE string_split(p_type, ' ') END AS words
      FROM part)
    SELECT p_partkey,
           CAST(len(words) AS INT) AS n_words,
           unnest(CASE WHEN len(words) = 0 THEN [CAST(NULL AS VARCHAR)]
                       ELSE words END) AS word
    FROM t
    """,
    tags=("fn", "array", "null"),
)
def fn_array_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: null-preserving array fan-out. Plain explode DROPS
    rows with empty arrays (inner-join semantics against the elements);
    explode_outer keeps them with a NULL element — the difference between
    silently losing every document with no secondary CNAE codes
    (cf. the packed `cnae_fiscal_secundaria` string, etl.py:48) and
    keeping them visible. Empty arrays manufactured deterministically
    (p_size >= 30) so both behaviors are exercised; the oracle models
    the outer semantics with a [NULL] sentinel."""
    p = table(spark, sf_dir, "part")
    words = F.when(F.col("p_size") >= 30, F.array().cast("array<string>")).otherwise(
        F.split("p_type", " ")
    )
    t = p.select("p_partkey", words.alias("words"))
    return t.select(
        "p_partkey",
        F.size("words").alias("n_words"),
        F.explode_outer("words").alias("word"),
    )


@register(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(props->>'k' AS INTEGER) AS k,
           props->>'k'                  AS k_str,
           CAST(props->>'missing' AS INTEGER) AS missing
    FROM events
    """,
    tags=("fn", "variant", "json"),
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT ingestion (Spark 4): parse_json once into
    the binary variant encoding, then typed path extraction with
    variant_get — unlike get_json_object (string re-parse per access),
    the variant parse cost is paid once per row however many fields are
    read. try_variant_get on a missing path yields NULL instead of
    failing: the schema-drift posture a 100 TB event log needs. Oracle
    mirrors with DuckDB's JSON operators."""
    ev = table(spark, sf_dir, "events", parallel=True)
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "int").alias("k"),
        F.variant_get("v", "$.k", "string").alias("k_str"),
        F.try_variant_get("v", "$.missing", "int").alias("missing"),
    )


# --- fn_xml ----------------------------------------------------------------


@register(
    "fn_xml",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus            AS status_rt,
           o_totalprice             AS price_rt,
           1                        AS n_status_nodes
    FROM orders WHERE o_orderkey < 500
    """,
    tags=("fn", "xml"),
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML kernel (Spark 4 ships spark-xml in core): to_xml renders a
    struct, from_xml parses it back with a declared schema, xpath
    queries node sets. Output = the round-tripped values themselves, so
    the oracle (plain columns off the base table) proves serialization
    fidelity rather than trusting it. The shape matters for ingest:
    government/enterprise drops (the reference's domain) are often XML
    manifests; parse with a declared schema once, never per-field."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    xml = F.to_xml(
        F.struct("o_orderkey", "o_orderstatus", "o_totalprice"),
        {"rowTag": "order"},
    )
    parsed = F.from_xml(
        xml,
        "STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING, o_totalprice: DOUBLE>",
        {"rowTag": "order"},
    )
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("status_rt"),
        parsed.getField("o_totalprice").alias("price_rt"),
        F.size(F.xpath(xml, F.lit("//o_orderstatus"))).alias("n_status_nodes"),
    )


# --- fn_try_arith ----------------------------------------------------------


@register(
    "fn_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END          AS price_per_disc,
           CASE WHEN floor(l_quantity) = 0 THEN NULL
                ELSE CAST(floor(l_extendedprice) AS BIGINT)
                     % CAST(floor(l_quantity) AS BIGINT)
           END                                                 AS mod_qty,
           CASE WHEN regexp_matches(l_returnflag, '^\\s*[+-]?\\d+\\s*$')
                THEN TRY_CAST(l_returnflag AS INTEGER) END     AS flag_as_int,
           TRY_CAST(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)
                    AS INTEGER)                                AS qty_as_int
    FROM lineitem
    """,
    tags=("fn", "ansi", "errors"),
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: try_divide / try_mod / try_cast return NULL
    instead of failing the 100 TB job on the one bad row — the error
    posture a production pipeline wants (poison rows surface as NULLs
    to quarantine, not as a stage retry storm). The oracle re-derives
    each NULL condition explicitly (DuckDB's operators raise; its
    TRY_CAST mirrors Spark's), so the compare proves WHICH rows degrade
    to NULL, not merely that the query survives. Double→integer
    narrowing goes through floor() on both sides — a bare
    CAST(double AS BIGINT) truncates in Spark but rounds half-even in
    DuckDB, the same engine-portability trap as round() (registry
    docstring). Per-row codegen expressions — no shuffle, no UDF.

    Scale note on the flag cast: try_cast's NULL path is a caught JVM
    exception PER FAILING ROW — on a column where most values don't
    parse (here: every value), that's ~20× the cost of the surrounding
    kernel (measured 4.4 s vs 0.2 s for the other three expressions at
    sf0.1). A cheap rlike guard keeps the exception path off the hot
    rows — try_cast then runs only on plausible integers, where it
    still owns range/overflow — identical NULL set, 5× faster here and
    unboundedly better at 100 TB on mostly-invalid columns. The guard
    is mirrored in the oracle (regexp_matches before TRY_CAST) because
    the two engines' bare casts diverge on fractional/exponent strings
    ('1.5', '1e2'): DuckDB TRY_CAST rounds them to an int, Spark
    try_cast returns NULL — the shared pre-screen makes both sides NULL
    on anything that is not a plain optionally-signed integer."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"
        ),
        F.try_mod(
            F.floor("l_extendedprice").cast("bigint"),
            F.floor("l_quantity").cast("bigint"),
        ).alias("mod_qty"),
        F.when(
            F.col("l_returnflag").rlike(r"^\s*[+-]?\d+\s*$"),
            F.col("l_returnflag").try_cast("int"),
        ).alias("flag_as_int"),
        F.floor("l_quantity")
        .cast("bigint")
        .cast("string")
        .try_cast("int")
        .alias("qty_as_int"),
    )


# --- fn_collation ------------------------------------------------------------


@register(
    "fn_collation",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg,
             c_acctbal
      FROM customer)
    SELECT lower(seg) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_binary_variants
    FROM mixed GROUP BY lower(seg)
    """,
    tags=("fn", "string", "collation"),
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): a deterministically
    case-mangled segment column groups under UTF8_LCASE so 'BUILDING'
    and 'building' land in ONE group — the engine-level answer to
    case-insensitive keys that the reference handles by hand-lowering
    columns (etl.py's case-insensitive column quirk, SURVEY §2.3). The
    output key is normalized through lower() because a collated GROUP BY
    exposes an arbitrary representative of each equivalence class —
    emitting the raw representative would be nondeterministic across
    partitionings (documented trap). n_binary_variants counts the
    distinct raw spellings folded into each group (2 here: the CASE
    mangle produces exactly upper and lower), pinning that the grouping
    really ran collation-aware, not pre-lowered.

    Scale story — measured, not assumed: Spark 4.1 plans a collated
    GROUP BY as **SortAggregate**, not HashAggregate (collated keys are
    not hash-aggregable yet), so collation costs a per-partition sort on
    top of the one exchange — the "collation tax" (pinned in
    tests/test_plans.py). At 100 TB that argues for pre-folding with
    lower() when the collation is a plain case-fold and reserving
    COLLATE for locale rules lower() can't express — exactly the
    equivalence this key's lower()-based DuckDB oracle verifies."""
    c = table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg")
    )
    g = mixed.groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("cseg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # seg (binary collation) is still visible pre-aggregation: count
        # the raw spellings folded into each collated group
        F.count_distinct(F.col("seg")).cast("bigint").alias("n_binary_variants"),
    )
    return g.select(
        F.lower(F.col("cseg")).cast("string").alias("segment"),
        "n",
        "n_binary_variants",
    )


# --- fn_crypto_roundtrip ----------------------------------------------------

_AES_KEY = "0123456789abcdef"  # 16-byte demo key; production keys come
# from a KMS and never appear in plans


@register(
    "fn_crypto_roundtrip",
    oracle="""
    SELECT p_partkey,
           CAST(16 * (length(p_name) // 16 + 1) AS BIGINT) AS ct_len,
           p_name AS decrypted
    FROM part
    """,
    tags=("fn", "crypto"),
)
def fn_crypto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round trip (the PII-vault pattern:
    encrypt at ingest, decrypt under policy): aes_encrypt/aes_decrypt
    in ECB-PKCS mode — deterministic, so the ciphertext LENGTH
    (16·(⌊n/16⌋+1), PKCS#7 always-pad) and the decrypted payload are
    oracle-checkable even though DuckDB can't run the cipher itself:
    the oracle states the algebraic contract (decrypt∘encrypt = id +
    the padding length law) rather than re-running AES. GCM (random
    nonce) is the production mode for storage; ECB here because
    determinism is what makes the plan testable — the mode is one
    literal."""
    p = table(spark, sf_dir, "part")
    enc = F.expr(f"aes_encrypt(p_name, '{_AES_KEY}', 'ECB', 'PKCS')")
    return p.select(
        "p_partkey",
        F.length(enc).cast("bigint").alias("ct_len"),
        F.expr(
            f"cast(aes_decrypt(aes_encrypt(p_name, '{_AES_KEY}', 'ECB', 'PKCS'),"
            f" '{_AES_KEY}', 'ECB', 'PKCS') as string)"
        ).alias("decrypted"),
    )


# --- fn_geo_haversine -------------------------------------------------------
#
# Great-circle distance (haversine) from a derived store location per
# customer to one reference point — the geo primitive behind
# join_spatial_grid/knn's planar tiers when coordinates are spherical.
# Coordinates are derived deterministically from c_custkey (the testdata
# has no geo columns): integer modular scatter into centi-degrees, so
# lat/lon are exact double quotients of identical integers in both
# engines.

_GEO_LAT0 = "-23.55"   # reference point (São Paulo), textual literal
_GEO_LON0 = "-46.63"   # so both engines parse the identical double
_GEO_PI = "3.141592653589793"
_GEO_R2 = "12742.0"    # 2 * Earth radius (km)


def _hav_sql() -> str:
    rad = f"({_GEO_PI} / 180.0)"
    return f"""
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 7919 % 18000) / 100.0 - 90.0   AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
      FROM customer),
    h AS (
      SELECT c_custkey, lat, lon,
             sin((lat - ({_GEO_LAT0})) * {rad} / 2.0) AS sp,
             sin((lon - ({_GEO_LON0})) * {rad} / 2.0) AS sl,
             cos(lat * {rad}) * cos(({_GEO_LAT0}) * {rad}) AS cc
      FROM c)
    SELECT c_custkey, lat, lon,
           {quantize_sql(f"{_GEO_R2} * asin(sqrt(sp * sp + cc * sl * sl))", 4)}
             AS dist_km
    FROM h
    """


@register("fn_geo_haversine", oracle=_hav_sql(), tags=("fn", "geo"))
def fn_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer haversine distance to a fixed reference point.

    Determinism: lat/lon are exact (integer modular scatter ÷ 100),
    the trig chain (sin/cos/asin/sqrt over java.lang.Math vs C libm)
    can drift by ulps, so the FINAL distance is quantized to 1e-4 km
    (10 cm) — far coarser than the ~1e-12 km worst-case drift, same
    posture as text_tfidf's log quantization. Scale story: pure
    narrow-map over the scan — no shuffle, whole-stage codegen
    end-to-end; at 100 TB this is scan-bound and perfectly parallel."""
    rad = F.lit(float(_GEO_PI)) / F.lit(180.0)
    lat0 = F.lit(float(_GEO_LAT0))
    lon0 = F.lit(float(_GEO_LON0))
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    sp = F.sin((F.col("lat") - lat0) * rad / 2.0)
    sl = F.sin((F.col("lon") - lon0) * rad / 2.0)
    cc = F.cos(F.col("lat") * rad) * F.cos(lat0 * rad)
    h = c.select(
        "c_custkey", "lat", "lon",
        sp.alias("sp"), sl.alias("sl"), cc.alias("cc"),
    )
    d = F.lit(float(_GEO_R2)) * F.asin(
        F.sqrt(F.col("sp") * F.col("sp") + F.col("cc") * F.col("sl") * F.col("sl"))
    )
    return h.select("c_custkey", "lat", "lon", quantize(d, 4).alias("dist_km"))


# --- udaf_geomean -----------------------------------------------------------
#
# Custom aggregate via a GROUPED_AGG pandas UDAF — the missing face of
# the UDF surface (scalar pandas_udf: udf_cnpj_format; grouped map:
# udf_grouped_map; UDTF: udtf_bigrams; now the Arrow-batched custom
# AGGREGATE). Semantics: per-status geometric mean of order totals.
# Determinism across engines AND partitions: each value contributes
# floor(ln(x)·1e6 + 0.5) as an INTEGER (math.log = C libm, the same
# libm DuckDB's ln() binds on this box — and the micro-quantization
# absorbs any ulp split); the UDAF returns the bigint SUM of those
# integers, so partial-aggregation order cannot matter, and the final
# geomean derives by integer division outside the UDAF.


_GEOMEAN_SQL = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(ln(o_totalprice) * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS log_micro_sum,
           CAST(sum(CAST(floor(ln(o_totalprice) * 1000000 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS geomean_log_micro
    FROM orders WHERE o_totalprice > 0
    GROUP BY o_orderstatus
    """


@register("udaf_geomean", oracle=_GEOMEAN_SQL, tags=("udf", "agg"))
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF: integer-quantized log-sum per group.

    The UDAF body receives each group's values as one Arrow batch and
    returns ONE bigint — Catalyst runs it as a real aggregate
    (partial/merge handled by Spark's ObjectHashAggregate for pandas
    UDAFs). Per-value work is math.log + floor — the C-libm twin of
    the oracle's ln(); the 1e-6 quantization is the repo's standard
    libm posture. Shapes: one hash(status) exchange of Arrow batches;
    at 100 TB a plain built-in ln()+sum is the faster form (documented
    — this key exists to prove the custom-UDAF seam, not to beat
    codegen)."""
    import math

    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: the type-hint route only accepts
    # float-returning Series->scalar signatures in pyspark 4.1
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def log_micro_sum(v: pd.Series):
        return int(sum(math.floor(math.log(x) * 1000000 + 0.5) for x in v))

    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — run it alone and join the count
    # back on the group key (both aggregates share the same exchange;
    # the joined frames are |groups|-sized)
    s = o.groupBy("o_orderstatus").agg(
        log_micro_sum(F.col("o_totalprice")).alias("log_micro_sum")
    )
    n = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return s.join(n, "o_orderstatus").select(
        "o_orderstatus", "n", "log_micro_sum",
        F.expr("log_micro_sum DIV n").cast("bigint").alias("geomean_log_micro"),
    )


# --- fn_string_distance -----------------------------------------------------
#
# Edit-distance function surface: levenshtein() agrees between Spark
# and DuckDB (same Wagner–Fischer DP, no transposition). Distances of
# each customer name to the canonical template and to a digit-smudged
# variant — the fuzzy-key toolkit dedup_fuzzy_names builds on, exposed
# as a scalar-function key like fn_string/fn_regexp.


_STRDIST_SQL = """
    SELECT c_custkey,
           CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT)
             AS d_template,
           CAST(levenshtein(c_name, replace(c_name, '0', 'O')) AS BIGINT)
             AS d_smudge,
           CAST((length(c_name) - levenshtein(c_name, 'Customer#000000000'))
                * 1000000 // length(c_name) AS BIGINT) AS sim_template_ppm
    FROM customer
    """


@register("fn_string_distance", oracle=_STRDIST_SQL, tags=("functions", "dedup"))
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distances per customer name (integer).

    Per-row scalar expressions only — no shuffle, no UDF; both engines
    implement the identical unit-cost DP. The ppm similarity uses the
    integer DIV discipline."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000"))
        .cast("bigint")
        .alias("d_template"),
        F.levenshtein(
            F.col("c_name"), F.regexp_replace(F.col("c_name"), "0", "O")
        )
        .cast("bigint")
        .alias("d_smudge"),
        F.expr(
            "(length(c_name) - levenshtein(c_name, 'Customer#000000000'))"
            " * 1000000 DIV length(c_name)"
        )
        .cast("bigint")
        .alias("sim_template_ppm"),
    )


# --- udf_arrow_scalar -------------------------------------------------------
#
# The Arrow-optimized scalar Python UDF surface (Spark 3.5+/4
# useArrow=True): same row-wise author experience as udf_cnpj_format's
# classic pickled UDF, but batches cross the JVM↔Python boundary as
# Arrow columns (the 10-100× serialization win SURVEY §7.2 commits
# to). The function itself — digit sum + mod-97 check code — is
# SQL-mirrorable, so the oracle stays full.


_ARROW_UDF_SQL = """
    WITH d AS (
      SELECT o_orderkey,
             (SELECT sum(CAST(substr(CAST(o.o_orderkey AS VARCHAR), g.g, 1)
                              AS BIGINT))
              FROM (SELECT unnest(generate_series(1, 20)) AS g) g
              WHERE g.g <= length(CAST(o.o_orderkey AS VARCHAR))) AS digit_sum
      FROM orders o)
    SELECT o_orderkey,
           CAST(digit_sum AS BIGINT) AS digit_sum,
           'ORD-' || CAST(o_orderkey AS VARCHAR) || '-'
                  || CAST(digit_sum % 97 AS VARCHAR) AS check_code
    FROM d
    """


@register("udf_arrow_scalar", oracle=_ARROW_UDF_SQL, tags=("udf", "functions"))
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-sum check codes via an Arrow-batched scalar Python UDF.

    Shapes: narrow per-row map — zero shuffles; the boundary cost is
    one Arrow record batch per task instead of per-row pickling
    (ArrowEvalPython node, pinned in tests/test_plans.py). The same
    logic as a built-in expression would be faster still (the fn_*
    keys' posture); this key exists to pin the MIGRATION PATH for
    logic that genuinely needs Python."""
    from pyspark.sql import types as T

    @F.udf(returnType=T.StructType([
        T.StructField("digit_sum", T.LongType()),
        T.StructField("check_code", T.StringType()),
    ]), useArrow=True)
    def check_code(k: int):
        s = sum(int(c) for c in str(k))
        return (s, f"ORD-{k}-{s % 97}")

    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", check_code(F.col("o_orderkey")).alias("cc")
    ).select(
        "o_orderkey",
        F.col("cc.digit_sum").cast("bigint").alias("digit_sum"),
        F.col("cc.check_code").alias("check_code"),
    )


# --- fn_stable_id -----------------------------------------------------------
#
# Deterministic dense ID assignment — the replacement for
# monotonically_increasing_id(), which is partition-layout-dependent
# (different cluster, different ids) and therefore banned from any
# reproducible pipeline. Stable ids = row_number over an explicit
# total order; re-runs, re-partitions, and engine swaps all agree.
# The classic use: assigning contiguous vocab/doc ids before an
# array-indexed model stage.


_STABLE_ID_SQL = """
    SELECT CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT)
             AS stable_id,
           doc_id, source
    FROM documents
    """


@register("fn_stable_id", oracle=_STABLE_ID_SQL, tags=("functions", "corpus"))
def fn_stable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous deterministic ids over (source, doc_id) order.

    Shapes: one global sort — honest and documented: DENSE contiguous
    ids fundamentally order the corpus (at 100 TB: two-pass
    partition-offset assignment — per-partition counts, prefix-sum the
    offsets driver-side, then zip within partitions — same result,
    no global sort; the window form here IS the semantics both
    implement). The anti-pattern this key replaces
    (monotonically_increasing_id) is partition-dependent and
    unreproducible by construction."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.row_number().over(W.orderBy("source", "doc_id")).cast("bigint").alias(
            "stable_id"
        ),
        "doc_id",
        "source",
    )


# --- fn_discretize_quantiles ------------------------------------------------
#
# Global-quantile discretization (the Bucketizer/QuantileDiscretizer
# ML-prep op, exact form): compute the corpus's exact quartile cuts
# (percentile_disc — an actual data value, engine-identical, no
# interpolated floats), broadcast them, label every event Q1..Q4.
# Boundary rule registered explicitly: value ≤ cut → lower bucket.


_DISC_SQL = """
    WITH c AS (
      SELECT quantile_disc(value, 0.25) AS q1,
             quantile_disc(value, 0.50) AS q2,
             quantile_disc(value, 0.75) AS q3
      FROM events)
    SELECT e.event_id,
           CAST(CASE WHEN e.value <= c.q1 THEN 1
                     WHEN e.value <= c.q2 THEN 2
                     WHEN e.value <= c.q3 THEN 3
                     ELSE 4 END AS BIGINT) AS bucket,
           CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS value_micro
    FROM events e, c
    """


@register("fn_discretize_quantiles", oracle=_DISC_SQL, tags=("functions", "ml"))
def fn_discretize_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quartile bucket labels per event (integer).

    Shapes: the cuts are ONE exact percentile aggregate (sort-based,
    but over the value column only) broadcast as a 1-row frame; the
    labeling pass is scan-side CASE — the two-pass build-then-apply
    shape shared with text_vocab_coverage. percentile_disc (not
    _cont/approx) because a SELECTED value is engine-identical by
    definition; approx sketches are the production swap when the sort
    is too dear (agg_approx_quantile's path, error-bounded there)."""
    ev = table(spark, sf_dir, "events")
    c = ev.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    return ev.crossJoin(F.broadcast(c)).select(
        "event_id",
        F.when(F.col("value") <= F.col("q1"), 1)
        .when(F.col("value") <= F.col("q2"), 2)
        .when(F.col("value") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("bigint")
        .alias("bucket"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("value_micro"),
    )


# --- fn_try_cast ------------------------------------------------------------
#
# Permissive casting surface: try_cast returns NULL instead of
# raising under ANSI mode — the ingestion posture for dirty columns
# (fn_try_arith covers arithmetic overflow; this covers parse
# failure). Malformed inputs are derived deterministically from
# customer names so the oracle re-derives them.


_TRY_CAST_SQL = """
    WITH d AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN CAST(c_custkey AS VARCHAR)
                  ELSE 'Customer#' || CAST(c_custkey AS VARCHAR) END AS raw_num,
             CASE WHEN c_custkey % 2 = 0
                  THEN '2024-0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '-15'
                  ELSE 'not-a-date' END AS raw_date
      FROM customer)
    SELECT c_custkey,
           TRY_CAST(raw_num AS BIGINT) AS num_parsed,
           CAST(TRY_CAST(raw_num AS BIGINT) IS NULL AS BIGINT)
             AS num_failed,
           CAST(CAST(TRY_CAST(raw_date AS DATE) AS VARCHAR) AS VARCHAR)
             AS date_parsed,
           CAST(TRY_CAST(raw_date AS DATE) IS NULL AS BIGINT) AS date_failed
    FROM d
    """


@register("fn_try_cast", oracle=_TRY_CAST_SQL, tags=("functions", "dq"))
def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast over deterministically-dirtied strings: NULL on parse
    failure, never an ANSI exception (dates re-stringified — the
    date-vs-Timestamp driver-boundary rule in NOTES.md).

    Per-row expressions, no shuffle; the failure FLAGS (cast bool →
    bigint) make the parse outcome part of the hashed contract, so an
    engine that silently coerced garbage would fail the oracle."""
    c = table(spark, sf_dir, "customer")
    d = c.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0, F.col("c_custkey").cast("string")
        )
        .otherwise(F.concat(F.lit("Customer#"), F.col("c_custkey").cast("string")))
        .alias("raw_num"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.lit("2024-0"),
                (1 + F.col("c_custkey") % 9).cast("string"),
                F.lit("-15"),
            ),
        )
        .otherwise(F.lit("not-a-date"))
        .alias("raw_date"),
    )
    return d.select(
        "c_custkey",
        F.expr("try_cast(raw_num AS BIGINT)").alias("num_parsed"),
        F.expr("CAST(try_cast(raw_num AS BIGINT) IS NULL AS BIGINT)").alias(
            "num_failed"
        ),
        F.expr("CAST(try_cast(raw_date AS DATE) AS STRING)").alias(
            "date_parsed"
        ),
        F.expr("CAST(try_cast(raw_date AS DATE) IS NULL AS BIGINT)").alias(
            "date_failed"
        ),
    )


# --- udf_cogrouped_map -------------------------------------------------------
#
# Cogrouped-map pandas UDF (groupBy().cogroup().applyInPandas) — the
# last member of the pandas-UDF API matrix (scalar/Arrow, grouped-agg,
# grouped-map, mapInPandas, UDTF all have keys). Canonical use: per-key
# alignment logic that pandas expresses in one call but SQL needs a
# window program for — here, last-click-before-purchase attribution via
# pandas.merge_asof per user. The ORACLE is the equivalent max_by
# window SQL, so the cogrouped path is held to the engine-exact answer.


@register(
    "udf_cogrouped_map",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           p.purchase_id,
           CAST(max_by(c.click_id,
                       CAST(c.cus AS HUGEINT) * 9223372036854775808
                       + c.click_id) AS BIGINT) AS click_id,
           CAST(p.pus - max(c.cus) AS BIGINT) AS gap_us
    FROM p JOIN c
      ON p.user_id = c.user_id AND c.cus <= p.pus
    GROUP BY p.user_id, p.purchase_id, p.pus
    """,
    tags=("udf", "events", "ml"),
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click-before-purchase per user via cogrouped applyInPandas
    (pandas merge_asof inside each cogroup, by='user_id').

    Shapes: both sides shuffle ONCE (the cogroup exchange) — but the
    cogroup key is the COARSE bucket pmod(user_id, 64), not user_id:
    cogrouped applyInPandas pays a fixed Python-invocation +
    Arrow-batch cost PER GROUP, so thousands of tiny per-user groups
    spend the whole budget on overhead (measured 8.2 s warm at sf0.1
    with per-user groups vs 0.6 s bucketed — 13×). merge_asof's `by=`
    argument restores exact per-user semantics inside each bucket in
    one C pass. This bucket-then-by pattern is the general fix for
    high-cardinality cogroups at any scale; bucket count scales with
    cluster cores, not users. The oracle is the max_by window
    equivalent, so the pandas path must reproduce the engine-exact
    pairing, including the equal-timestamp rule (ties take the click
    with the larger event_id — encoded in the global (cus, click_id)
    sort + merge_asof's last-in-sort-order semantics and mirrored in
    the oracle's composite max_by key, widened to HUGEINT so the pair
    packs without overflow).

    Unmatched purchases (no click at or before) are DROPPED on both
    sides (merge_asof NaN rows filtered) — the inner-join contract.
    """
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    bkt = F.pmod("user_id", F.lit(64)).alias("bkt")
    clicks = ev.filter(F.col("event_type") == "click").select(
        bkt, "user_id", F.col("event_id").alias("click_id"), us.alias("cus")
    )
    # NOTE the right side renames user_id -> puser: both cogroup sides
    # derive from the SAME events frame (a self-cogroup), and Spark's
    # analyzer dedups the conflicting attribute ids — under a pruning
    # action (count()) the right side's duplicate-named user_id column
    # is dropped from the Arrow batch entirely. Distinct names per side
    # sidestep the dedup; merge_asof's left_by/right_by pair them back.
    purch = ev.filter(F.col("event_type") == "purchase").select(
        bkt,
        F.col("user_id").alias("puser"),
        F.col("event_id").alias("purchase_id"),
        us.alias("pus"),
    )

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = clicks, right = purchases for ONE user bucket
        if right.empty or left.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_id", "click_id", "gap_us"]
            )
        lc = left.sort_values(["cus", "click_id"], kind="mergesort")
        rp = right.sort_values(["pus", "purchase_id"], kind="mergesort")
        m = pd.merge_asof(
            rp,
            lc.drop(columns=["bkt"]),
            left_on="pus",
            right_on="cus",
            left_by="puser",
            right_by="user_id",
        )
        m = m.dropna(subset=["click_id"])
        if m.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_id", "click_id", "gap_us"]
            )
        m["gap_us"] = (m["pus"] - m["cus"]).astype("int64")
        m["click_id"] = m["click_id"].astype("int64")
        m["user_id"] = m["puser"].astype("int64")
        return m[["user_id", "purchase_id", "click_id", "gap_us"]]

    return (
        clicks.groupBy("bkt")
        .cogroup(purch.groupBy("bkt"))
        .applyInPandas(
            asof,
            "user_id long, purchase_id long, click_id long, gap_us long",
        )
    )


# --- udf_map_in_arrow --------------------------------------------------------
#
# mapInArrow: the Arrow-native map surface — batches arrive as
# pyarrow.RecordBatch and never convert to pandas, the lowest-overhead
# Python escape hatch (no index materialization, no object boxing).
# Canonical use: numeric batch kernels over vector columns. Here: L2
# norm (micro-quantized) per embedding via numpy over the Arrow
# buffers; oracle = the list_sum SQL over the same squares.


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT vec_id,
           CAST(floor(
             sqrt(CAST(list_sum(list_transform(embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS norm_micro
    FROM embeddings
    """,
    tags=("udf", "similarity", "ml"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm through mapInArrow (RecordBatch in,
    RecordBatch out — zero pandas).

    Shapes: embarrassingly parallel, ZERO exchanges — the Arrow batch
    iterator runs inside the scan stage. numpy reads the list column's
    flattened values buffer and reduces per offset window; sqrt is
    IEEE-correctly-rounded (the one libm fn that is, NOTES round-5) so
    the 1e-6 quantization is engine-exact. At 100 TB this is the
    pattern for custom numeric kernels: per-batch vectorized compute,
    ints out, no shuffle."""
    import pyarrow as pa
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            col = batch.column("embedding")
            # flatten list<float> -> (values, offsets); one vectorized
            # square + per-window reduce, no per-row Python
            lst = col.combine_chunks() if hasattr(col, "combine_chunks") else col
            offsets = np.asarray(lst.offsets)
            vals = np.asarray(lst.values, dtype=np.float64)
            sq = np.add.reduceat(vals * vals, offsets[:-1])
            sq = np.where(offsets[1:] > offsets[:-1], sq, 0.0)
            norm = np.floor(np.sqrt(sq) * 1e6 + 0.5).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(norm, type=pa.int64())],
                names=["vec_id", "norm_micro"],
            )

    return emb.mapInArrow(norms, "vec_id long, norm_micro long")


# --- fn_isoweek --------------------------------------------------------------
#
# ISO-8601 calendar surfaces: iso year, iso week, iso day-of-week.
# These are the fields that SILENTLY diverge across engines (Spark's
# dayofweek is Sunday=1; DuckDB's dayofweek is Sunday=0; both agree
# only on the ISO definitions) — the key pins the portable mapping:
# Spark weekofyear IS the ISO week; isodow derives from dayofweek by
# ((dow + 5) % 7) + 1; iso year must come from the Jan-4 rule, NOT
# year(), which is wrong in the year-boundary weeks.


@register(
    "fn_isoweek",
    oracle="""
    SELECT o_orderkey,
           CAST(isoyear(o_orderdate) AS INT)  AS iso_year,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(isodow(o_orderdate) AS INT)   AS iso_dow
    FROM orders WHERE o_orderkey < 2000
    """,
    tags=("fn", "date"),
)
def fn_isoweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO year / week / day-of-week per order date.

    Spark has no isoyear(); derive it by the ISO rule (the year of the
    Thursday of the date's week): add (4 - isodow) days and take
    year() — exact, and scan-side codegen. iso_dow = ((dayofweek(d) +
    5) % 7) + 1 maps Spark's Sunday=1 convention to ISO Monday=1.
    DuckDB mirrors with its native isoyear/isodow, so any engine
    divergence in the week fields hash-fails loudly."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    isodow = ((F.dayofweek("o_orderdate") + 5) % 7) + 1
    return o.select(
        "o_orderkey",
        F.year(F.date_add(F.col("o_orderdate").cast("date"), 4 - isodow))
        .cast("int")
        .alias("iso_year"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        isodow.cast("int").alias("iso_dow"),
    )


# --- Python UDTFs: udtf_bigrams, udtf_polymorphic ----------------------------
#
# One row in, many rows out, with per-row Python logic — the third member
# of the UDF / UDAF / UDTF triple. Use a UDTF only when the fan-out logic
# genuinely needs Python: the bigram expansion here is deliberately ALSO
# expressible relationally (doc_chunk's sequence+slice pattern), which is
# what makes a bit-exact DuckDB oracle possible — the oracle proves the
# UDTF path produces exactly what the relational path would, so swapping
# either way is safe. At 100 TB prefer the relational form (whole-stage
# codegen, no Python workers); the UDTF is the escape hatch for logic
# Catalyst can't express.


@udtf(returnType="pos int, gram string")
class _BigramUDTF:
    """Yield (0-based position, space-joined bigram) per whitespace token
    pair. Mirrors functions/text.py::tokens' split semantics."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        toks = text.strip().split()
        for i in range(len(toks) - 1):
            yield i, toks[i] + " " + toks[i + 1]


@register(
    "udtf_bigrams",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents)
    SELECT doc_id,
           CAST(u.i - 1 AS INT)  AS pos,
           u.gram                AS gram
    FROM (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> {'i': i, 'gram': toks[i] || ' ' || toks[i + 1]})) AS u
      FROM t) s
    """,
    tags=("udtf", "text"),
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional bigram expansion via Python UDTF + SQL LATERAL join.
    Arrow-batched rows stream through the Python worker; empty and
    single-token docs yield no rows (inner lateral semantics) on both
    engines."""
    spark.udtf.register("__udtf_bigrams", _BigramUDTF)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.gram
        FROM __udtf_docs d, LATERAL __udtf_bigrams(d.text) AS b
        """
    )


# --- udtf_polymorphic --------------------------------------------------------
#
# Polymorphic Python UDTF (Spark 4 analyze() API): the OUTPUT SCHEMA is
# computed at ANALYSIS time from a constant argument — the extension
# point for generic expanders (split-to-N-columns, parse-to-schema)
# that a fixed returnType UDTF cannot express. Here: the first N=3
# whitespace tokens of each document become typed columns; the oracle
# is plain list indexing.


class _FirstTokensUDTF:
    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import StructType
        from pyspark.sql.udtf import AnalyzeResult

        assert n.isConstantExpression, "n must be a literal"
        schema = StructType()
        for i in range(n.value):
            schema = schema.add(f"tok{i + 1}", "string")
        return AnalyzeResult(schema=schema)

    def eval(self, text, n):
        parts = (text or "").strip().split()
        yield tuple(
            (parts[i] if i < len(parts) else None) for i in range(n)
        )


@register(
    "udtf_polymorphic",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CASE WHEN len(toks) >= 1 AND toks[1] <> '' THEN toks[1] END AS tok1,
           CASE WHEN len(toks) >= 2 THEN toks[2] END AS tok2,
           CASE WHEN len(toks) >= 3 THEN toks[3] END AS tok3
    FROM t
    """,
    tags=("udtf", "text"),
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-3-token columns via an analyze()-schema'd UDTF in a
    LATERAL join. The schema (tok1..tok3) exists only because the
    literal 3 is visible at analysis time — the polymorphic half of
    the UDTF surface (udtf_bigrams covers the fixed-schema half).
    Empty docs yield a row of NULLs (python split() of '' is [] —
    mirrored by the oracle's empty-token guard)."""
    spark.udtf.register("__udtf_first_toks", udtf(_FirstTokensUDTF))
    table(spark, sf_dir, "documents").filter(
        "doc_id < 300"
    ).createOrReplaceTempView("__udtf_docs_poly")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok1, t.tok2, t.tok3
        FROM __udtf_docs_poly d,
             LATERAL __udtf_first_toks(d.text, 3) AS t
        """
    )
