"""Scan, sink, source and layout plans: every file format and connector
the engine reads (scan_*: parquet, ORC, CSV variants, JSON/JSONL, text,
XML, binary files, merged schemas, delete vectors), writes (sink_*:
round trips through parquet, CSV dialects, JSON, tables, partitioned
and idempotent overwrites, manifests, Python data sources), streams
from (source_*: Python DataSource batch and stream readers) and lays
out (layout_zorder).

A sink has no result set of its own, so each sink plan materializes a
deterministic slice through the sink and returns the read-back
DataFrame; the oracle computes the same slice directly. Equality
therefore proves the round trip is lossless (schema + values), which is
the sink property worth testing — the reference's equivalent guarantee
is "what to_csv wrote, read_csv returns" (O6/O18) and "what to_sql
appended, SELECT returns" (O10).

CSV is the deliberately lossy-looking case: everything becomes text on
disk; the read-back declares the schema (never infers — SURVEY.md §1.2)
and must still reproduce bit-identical doubles (Java's shortest-round-trip
double formatting guarantees this).
"""

from __future__ import annotations

import os
import os as _os
import shutil
import tempfile
import tempfile as _tempfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.plans.registry import register
from etl_cnpjs_spark.sources.sinks import sink_csv, sink_parquet
from etl_cnpjs_spark.staging import session_tmpdir, staged


# --- scans (O4 scan_csv, + parquet) ---------------------------------------


@register(
    "scan_parquet",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
    tags=("reference", "source"),
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with declared schema from the footer (O4's modern
    form). Full projection here; pruning is exercised by project_alias."""
    return table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@register(
    "scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("reference", "source"),
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit StructType — the Spark form of the
    reference's headerless ';'-separated read with positionally stamped
    names (etl.py:87-88). The 25k-row chunking disappears: a partitioned
    read replaces it (SURVEY.md §2.1 O4/O5).

    Round-trips `nation` through CSV in a temp dir to prove the scan path,
    then returns the re-read rows (oracle = the parquet truth).
    """
    import tempfile

    from etl_cnpjs_spark.sources.csv import read_csv, write_roundtrip_csv

    src = table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="etl_cnpjs_scan_csv_")
    write_roundtrip_csv(src, out)
    return read_csv(
        spark,
        out,
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        header=False,
    )


# Small deterministic slice: one nation's customers (joins not needed —
# sinks are about the write path, not the plan above them).
_SLICE_SQL = """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_nationkey IN (3, 7) AND c_acctbal > 0
"""


def _slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(c.c_nationkey.isin(3, 7) & (c.c_acctbal > 0))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@register("sink_parquet", oracle=_SLICE_SQL)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9-analog: parquet out, parquet back; schema travels in the footer."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_parquet_"), "slice.parquet")
    sink_parquet(_slice(spark, sf_dir), out)
    return spark.read.parquet(out)


@register("sink_csv_bom", oracle=_SLICE_SQL)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/O18-analog: ';' CSV with header out, declared-schema read back."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_csv_"), "slice_csv")
    sink_csv(_slice(spark, sf_dir), out)
    return (
        spark.read.schema(
            "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
        )
        .option("sep", ";")
        .option("header", "true")
        .csv(out)
    )


@register(
    "sink_partitioned",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_nationkey
    FROM customer WHERE c_nationkey IN (3, 7)
    """,
)
def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning — the Spark
    answer to the reference's `idx_estab_uf` secondary index
    (etl.py:181, SURVEY.md §4.1): write customer partitioned by
    c_nationkey, read back with a nationkey predicate, and the scan
    touches ONLY the two matching directories (PartitionFilters in the
    plan, asserted by tests/test_plans.py). At 100 TB this is the
    difference between scanning 25 partitions and 2."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_part_"), "customer_by_nation")
    (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .write.mode("overwrite")
        .partitionBy("c_nationkey")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("c_nationkey").isin(3, 7))
    # partition column comes back from the directory name as the narrowest
    # inferred type — restore the source's int for schema parity
    return df.select(
        "c_custkey", "c_name", "c_acctbal", F.col("c_nationkey").cast("int").alias("c_nationkey")
    )


@register("scan_json", oracle=_SLICE_SQL)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round trip: write the slice as JSONL, read back
    with a DECLARED schema (never inferred — inference costs a full
    extra pass at 100 TB and can flip types between runs). Doubles
    survive via shortest-round-trip formatting, same guarantee as the
    CSV sink."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_json_"), "slice_json")
    _slice(spark, sf_dir).write.json(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).json(out)


@register(
    "sink_idempotent",
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT)       AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM customer WHERE c_nationkey IN (3, 7)
    GROUP BY c_nationkey
    """,
)
def sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2's idempotency (skip-if-exists download, etl.py:61-63) in its
    Spark-scale form: DYNAMIC partition overwrite. The same partitioned
    load runs TWICE into one target; with partitionOverwriteMode=dynamic
    each re-run replaces exactly the partitions it produces — no
    duplication, no truncation of untouched partitions. The read-back
    per-partition counts/checksums must equal a single clean load (the
    oracle) — re-run safety proved by construction. This is the
    recovery semantics a 1000-executor ingest needs: re-submit a failed
    day's job without wiping the table."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_idem_"), "by_nation")
    src = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(3, 7))
        .select("c_custkey", "c_acctbal", "c_nationkey")
    )
    writer = (
        src.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("c_nationkey")
    )
    writer.parquet(out)
    writer.parquet(out)  # identical re-run: must be a no-op net effect
    return (
        spark.read.parquet(out)
        .groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").alias("key_sum"),
        )
    )


@register(
    "sink_compact",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(4 AS BIGINT)             AS n_files,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM customer WHERE c_nationkey IN (3, 7) AND c_acctbal > 0
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the maintenance pass every long-lived
    100 TB table needs (streaming/append writers leave thousands of tiny
    files; scan cost is per-file). Rewrite the slice into exactly 4
    target files (repartition(4); in production: maxRecordsPerFile or
    AQE-coalesced rewrite), then PROVE both properties from the read
    side: row/values survive (count + key checksum) and the layout is 4
    files (distinct input_file_name — metadata the oracle pins as a
    literal)."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_compact_"), "compacted")
    _slice(spark, sf_dir).repartition(4).write.parquet(out)
    back = spark.read.parquet(out).withColumn("__f", F.input_file_name())
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("__f").alias("n_files"),
        F.sum("c_custkey").alias("key_sum"),
    )


@register("sink_table", oracle=_SLICE_SQL)
def sink_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10-analog: saveAsTable into the session catalog (external table —
    data lands in a temp dir, not the warehouse), read via spark.table.
    Unique name per run so concurrent or repeated runs never collide."""
    tmp = tempfile.mkdtemp(prefix="sink_table_")
    name = "sink_rt_" + os.path.basename(tmp).removeprefix("sink_table_")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        _slice(spark, sf_dir)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", os.path.join(tmp, "data"))
        .saveAsTable(name)
    )
    return spark.table(name)


@register(
    "scan_text",
    oracle="""
    SELECT md5(text) AS line_digest, length(text) AS n_chars
    FROM documents
    """,
    tags=("scan", "text"),
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: write the corpus as plain text (one doc
    per line — the log-file / pre-JSONL shape), read it back with
    spark.read.text, and prove byte fidelity by digesting every line.
    The oracle digests the original documents directly, so any encoding,
    trimming, or line-splitting defect in the text round-trip breaks the
    match. (Docs are single-line by construction; a real log pipeline
    would keep it that way by writing JSONL.)"""
    out = os.path.join(tempfile.mkdtemp(prefix="scan_text_"), "lines")
    d = table(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    d.write.text(out)
    back = spark.read.text(out)
    return back.select(
        F.md5("value").alias("line_digest"),
        F.length("value").alias("n_chars"),
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


# --- scan_orc --------------------------------------------------------------

@staged("orc")
def _stage_orc(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as an ORC table once per (session, sf) — a
    distributed write (Spark's ORC sink), no driver staging."""
    out = os.path.join(session_tmpdir("orc_stage_"), "documents.orc")
    table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    ).write.mode("overwrite").orc(out)
    return out


@register(
    "scan_orc",
    oracle="""
    SELECT doc_id, lang, source,
           len(text)         AS n_chars,
           md5(text)         AS content_md5
    FROM documents
    """,
    tags=("source", "orc"),
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC source/sink round trip — Spark's second first-class
    columnar format (vectorized reader, predicate pushdown, same
    partition-pruning machinery as parquet). Write documents to ORC
    once per session, read back, fingerprint content (md5) — the oracle
    recomputes from the parquet source, proving the round trip is
    byte-faithful. At 100 TB ORC vs parquet is a storage-policy choice,
    not a plan change: every scan-side optimization here applies."""
    path = _stage_orc(spark, sf_dir)
    d = spark.read.orc(path)
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
    )


# --- source_python_ds ------------------------------------------------------


@register(
    "source_python_ds",
    oracle="""
    SELECT CAST(i AS BIGINT)           AS id,
           CAST(i * i AS BIGINT)       AS sq,
           CAST(i % 8 AS INT)          AS part
    FROM range(0, 4096) t(i)
    """,
    tags=("source", "python_datasource"),
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (Spark 4 pyspark.sql.datasource API) —
    the extensibility seam where the reference's HTTP download loop
    (ETLCNPJFinalEmpresaEstabelecimentos.py:60-72) becomes a
    first-class, PARTITIONED source: partitions() splits the key space,
    each executor's read(partition) pulls only its slice (for a real
    feed: its page range / shard URLs), and the result enters the plan
    as an ordinary DataFrame with a declared schema — no driver-side
    staging. Here the source generates a deterministic table (8
    partitions over 4096 ids) so the oracle can re-derive it exactly."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SquaresReader(DataSourceReader):
        def __init__(self, n: int, parts: int):
            self.n, self.parts = n, parts

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            for i in range(partition.value, self.n, self.parts):
                yield (i, i * i, i % self.parts)

    class SquaresDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "squares"

        def schema(self) -> str:
            return "id bigint, sq bigint, part int"

        def reader(self, schema):
            return _SquaresReader(
                int(self.options.get("n", 4096)),
                int(self.options.get("parts", 8)),
            )

    spark.dataSource.register(SquaresDataSource)
    return spark.read.format("squares").option("n", 4096).option("parts", 8).load()


# --- scan_merge_schema -----------------------------------------------------

@staged("mergestage")
def _stage_evolved_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet drops of the same logical table written under an
    EVOLVED schema: generation 1 carries (c_custkey, c_name), a later
    generation adds the c_acctbal column. Staged via ordinary Spark
    writes (executor-side), once per (session, sf) — input setup, not
    query work."""
    out = session_tmpdir("evolved_")
    c = table(spark, sf_dir, "customer")
    c.filter(F.col("c_nationkey") == 3).select("c_custkey", "c_name").write.mode(
        "overwrite"
    ).parquet(f"{out}/gen=1")
    c.filter(F.col("c_nationkey") == 7).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").parquet(f"{out}/gen=2")
    return out


@register(
    "scan_merge_schema",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal, 1 AS gen
    FROM customer WHERE c_nationkey = 3
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, 2 AS gen
    FROM customer WHERE c_nationkey = 7
    """,
    tags=("source", "schema_evolution"),
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a table whose later file generations
    added a column is read as ONE DataFrame with mergeSchema — old
    files surface the new column as NULL, the partition column (gen)
    identifies the drop. This is how a 100 TB table takes a schema
    change without rewriting history: merge footers at planning time
    (cost: one footer read per file — keep per-file schemas in the
    catalog once file counts get large), never touch old data files.
    The oracle re-derives both generations from the base table."""
    path = _stage_evolved_parquet(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("c_custkey", "c_name", "c_acctbal", F.col("gen").cast("int").alias("gen"))
    )


# --- scan_xml ----------------------------------------------------------------


@register(
    "scan_xml",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_nationkey IN (3, 7) AND c_acctbal > 0
    """,
    tags=("scan", "sink", "xml", "format"),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML FILE FORMAT round trip — Spark 4's built-in XML data source
    (the spark-xml package graduated into core), distinct from fn_xml
    which exercises the from_xml/to_xml STRING kernel on columns. Write
    the slice as <row> elements, read back with a DECLARED schema
    (never inferred — same O5 rule as every reader here). Completes the
    format family: csv / parquet / orc / json / text / binaryfile /
    xml all round-trip or scan with pushdown adjudicated per format
    (XML, like JSON, is a row-parse format: no column pruning at the
    scan, so at 100 TB it's an INGEST format you convert to parquet
    once — the docstring IS that guidance). Doubles survive via
    shortest-round-trip formatting, as with the JSON/CSV sinks."""
    import os
    import tempfile

    from etl_cnpjs_spark.plans.io import _slice

    out = os.path.join(tempfile.mkdtemp(prefix="scan_xml_"), "slice_xml")
    (
        _slice(spark, sf_dir)
        .write.format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(
            "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
        )
        .load(out)
    )


# --- scan_json_nested -------------------------------------------------------


@register(
    "scan_json_nested",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           l.l_linenumber, l.l_quantity AS qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 50 = 0
    """,
    tags=("scan", "json", "nested"),
)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON round trip — the document-shaped ingest every event
    bus and API export produces: each order serializes as one JSON
    document carrying an ARRAY OF LINE STRUCTS, written as JSONL, read
    back with a DECLARED nested schema (array<struct> — never
    inferred), and re-flattened with explode. The oracle is the plain
    relational join the nesting round-trips, so a green hash proves
    serialize → nested read → explode is lossless. Shapes: the
    collect_list build is one hash(orderkey) exchange; the read-side
    explode is narrow (flatten at the scan); schema declaration keeps
    the 100 TB read single-pass."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    l = table(spark, sf_dir, "lineitem")
    nested = (
        l.join(o.select("o_orderkey", "o_orderstatus"), l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("lines")
        )
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="scan_json_nested_"), "orders_json")
    nested.write.json(out)
    schema = (
        "o_orderkey bigint, o_orderstatus string,"
        " lines array<struct<ln:int, qty:double>>"
    )
    back = spark.read.schema(schema).json(out)
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode("lines").alias("e"),
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("e.ln").alias("l_linenumber"),
        F.col("e.qty").alias("qty"),
    )


# --- sink_json --------------------------------------------------------------
#
# JSON sink + scan round trip — the interchange format the sink family
# (parquet/CSV-BOM/partitioned/table/compact/idempotent) was missing.
# Doubles survive textual JSON because both the writer (Jackson
# shortest round-trip repr) and the reader (exact decimal→binary
# parse) are value-preserving; dates travel as ISO strings under an
# explicit read schema (never inferred — SURVEY §1.2 discipline).


_SINK_JSON_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date
    FROM orders WHERE o_orderkey % 97 = 0
    """


@register("sink_json", oracle=_SINK_JSON_SQL, tags=("sink", "scan"))
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9-analog over JSON lines: write a keyed slice, read it back
    under a DECLARED schema, return the round-tripped rows.

    Scale story: JSON-lines is splittable — at 100 TB both the write
    (per-partition files, no coalesce in the scale path) and the read
    (line-split tasks) parallelize; schema-on-read skips the
    double-pass inference scan. The slice filter pushes to the
    parquet scan on the way out. The date round-trips as a DATE
    (ISO string in the JSON, DateType under the declared read
    schema) and is formatted to text only at the output boundary —
    the driver canonicalizer sees identical strings from both
    engines (Spark DateType surfaces as datetime.date, DuckDB DATE
    as pandas Timestamp — a type split, not a value one)."""
    from pyspark.sql import types as T

    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_date"),
        )
    )
    out = os.path.join(tempfile.mkdtemp(prefix="sink_json_"), "slice.json")
    sl.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_date", T.DateType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.withColumn("o_date", F.date_format("o_date", "yyyy-MM-dd"))


# --- scan_csv_gzip ----------------------------------------------------------
#
# Compressed-CSV round trip — the scan family (csv/permissive/json/
# nested/orc/xml/text/binary/parquet) plus transparent gzip codec
# handling, which is how crawl drops actually arrive. gzip is NOT
# splittable: at scale the unit of parallelism is the FILE, so the
# posture is many medium .gz files, never one giant one (docstring
# contract; the test slice writes per-partition files).


_CSV_GZ_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 89 = 0
    """


@register("scan_csv_gzip", oracle=_CSV_GZ_SQL, tags=("scan", "sink"))
def scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a keyed slice as gzip CSV, read it back under a declared
    schema. Doubles survive the text round trip via shortest
    round-trip repr on write + exact decimal→binary parse on read.

    Scale story: the writer emits one .gz per partition (splittable
    parallelism by file count); the reader schedules one task per
    file — the documented posture for non-splittable codecs. Schema
    declared on read: no inference pass over compressed bytes."""
    from pyspark.sql import types as T

    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 89 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    out = os.path.join(tempfile.mkdtemp(prefix="scan_csv_gz_"), "slice.csv")
    sl.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)


# --- scan_delete_vectors ----------------------------------------------------
#
# Deletion-vector read semantics: the base table stays immutable; a
# small side file of deleted keys is applied AT READ TIME as an anti
# join — the lakehouse "merge-on-read" delete shape (Delta deletion
# vectors / Iceberg positional deletes), done by key. The base is
# never rewritten; the delete set broadcasts.


_DELVEC_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 <> 0
    """


@register("scan_delete_vectors", oracle=_DELVEC_SQL, tags=("scan", "cdc"))
def scan_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes: base parquet + a staged delete-key file,
    applied as a broadcast anti join at read time.

    The delete vector is WRITTEN to parquet first (a real side file,
    as a lakehouse would stage it) and read back for the mask — not
    an in-plan filter pretending to be one. Shapes: the base scan is
    untouched (no rewrite, full pushdown still applies); the delete
    set is deletes-sized and broadcasts; the anti join is scan-side.
    At 100 TB this is the read path until compaction folds the
    vectors in (sink_compact's job)."""
    import os
    import tempfile

    o = table(spark, sf_dir, "orders")
    dv_dir = os.path.join(tempfile.mkdtemp(prefix="delvec_"), "deletes.parquet")
    o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("del_key")
    ).write.mode("overwrite").parquet(dv_dir)
    dv = spark.read.parquet(dv_dir)
    return o.join(
        F.broadcast(dv), o.o_orderkey == dv.del_key, "left_anti"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --- sink_manifest ----------------------------------------------------------
#
# Manifest-commit protocol: data files land under a staging name, a
# MANIFEST file listing exactly the committed files is written LAST
# (atomic os.replace), and readers resolve the manifest — never the
# directory listing. The multi-file commit shape every table format
# builds on (and the reason half-written jobs are invisible to
# readers). Round-trips a keyed slice through it.


_MANIFEST_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 83 = 0
    """


@register("sink_manifest", oracle=_MANIFEST_SQL, tags=("sink",))
def sink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write slice → per-partition parquet files → manifest written
    last via atomic replace → read back ONLY the manifest's files.

    An extra decoy file is dropped into the directory after the
    commit and before the read: the read must NOT see it (manifest
    resolution, not directory listing) — the property that makes
    concurrent writers and failed jobs invisible. Scale story: the
    manifest is file-count-sized; readers fan out over its entries;
    commit cost is one rename regardless of data volume."""
    import glob
    import json
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="manifest_sink_")
    data_dir = os.path.join(base, "data")
    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 83 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    sl.write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    tmp_manifest = os.path.join(base, "_manifest.tmp")
    with open(tmp_manifest, "w") as f:
        json.dump({"files": files}, f)
    os.replace(tmp_manifest, os.path.join(base, "MANIFEST.json"))
    # decoy: lands AFTER the commit; a directory-listing reader would
    # pick it up, a manifest reader must not
    decoy = sl.limit(5)
    decoy.write.mode("overwrite").parquet(os.path.join(base, "decoy"))
    for i, p in enumerate(
        glob.glob(os.path.join(base, "decoy", "*.parquet"))
    ):
        os.replace(p, os.path.join(data_dir, f"zz_uncommitted_{i}.parquet"))
    with open(os.path.join(base, "MANIFEST.json")) as f:
        committed = json.load(f)["files"]
    return spark.read.parquet(*committed)


# --- scan_csv_multiline -----------------------------------------------------
#
# Quoted-embedded-newline CSV round trip — the nastiest mainstream CSV
# shape (addresses, scraped text). The writer quotes fields holding
# newlines; the reader must run multiLine=true, which makes a CSV file
# NON-SPLITTABLE (the parser can't resync mid-file at an arbitrary
# byte offset, same scale posture as gzip: parallelism = file count).


_CSV_ML_SQL = """
    SELECT doc_id,
           regexp_replace(text, '\\s+', chr(10), 'g') AS text_ml,
           CAST(length(regexp_replace(text, '\\s+', chr(10), 'g'))
                - length(replace(regexp_replace(text, '\\s+', chr(10), 'g'),
                                 chr(10), '')) + 1 AS BIGINT) AS n_lines
    FROM documents WHERE doc_id % 97 = 0 AND length(trim(text)) > 0
    """


@register("scan_csv_multiline", oracle=_CSV_ML_SQL, tags=("scan", "sink"))
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents whose text embeds real newlines as quoted CSV,
    read them back with multiLine=true, count the lines.

    The written field IS multi-line (every whitespace run becomes
    \\n), so this exercises quote-aware record framing end to end.
    Scale story in the banner comment: multiLine disables splitting —
    the posture is many medium files (one per partition here), and
    the docstring is the contract that stops someone from pointing
    this reader at one 100 GB file."""
    from pyspark.sql import types as T

    sl = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 97 == 0) & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.regexp_replace("text", "\\s+", "\n").alias("text_ml"),
        )
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="scan_csv_ml_"), "docs.csv")
    sl.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text_ml", T.StringType()),
        ]
    )
    rd = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )
    nl = F.length("text_ml") - F.length(F.regexp_replace("text_ml", "\n", ""))
    return rd.select(
        "doc_id", "text_ml", (nl + 1).cast("bigint").alias("n_lines")
    )


# --- sink_partition_overwrite -----------------------------------------------
#
# Dynamic partition overwrite — the incremental-reload contract every
# partitioned warehouse leans on: rewriting ONE partition's data must
# replace exactly that partition and leave every other partition's
# files untouched. Spark's static overwrite mode would TRUNCATE the
# whole table first (the classic data-loss footgun); this key pins
# partitionOverwriteMode=dynamic end to end: full write → targeted
# single-partition rewrite (prices doubled) → read-back.


_SPO_SQL = """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2
                         ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS total_cents
    FROM orders GROUP BY 1
    """


@register("sink_partition_overwrite", oracle=_SPO_SQL, tags=("sink", "layout"))
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by status, dynamically overwrite ONLY
    the 'F' partition with doubled prices, read back the final state.

    The oracle is the expected MERGED table (F doubled, others
    untouched) — if dynamic overwrite leaked into sibling partitions
    (static-mode truncate) the counts would collapse and the hash
    would catch it. Scale story: partition-grain replace is the unit
    of idempotent backfill at 100 TB — rewrite one day, never the
    table; pairs with sink_idempotent (task-level) and sink_manifest
    (commit-level)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderstatus",
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="spo_"), "orders_part")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    patched = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        patched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    rd = spark.read.parquet(out)
    return rd.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- sink_csv_br_dialect ----------------------------------------------------
#
# Brazilian-Excel CSV dialect round trip: semicolon separator, decimal
# COMMA money — the dialect the reference's downstream consumers
# actually open (its export writes latin-1 + BOM for the same Excel;
# etl.py:185-188 / SURVEY §2.1 O6/O18 cover encoding, this key covers
# the separator/decimal axis). Money crosses as a formatted string
# (the dialect's own representation), so the round trip is exact by
# construction and the oracle mirrors the formatting textually.


_BR_CSV_SQL = """
    SELECT o_orderkey,
           CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                AS VARCHAR) || ','
             || CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          % 100 < 10 THEN '0' ELSE '' END
             || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 100
                     AS VARCHAR) AS total_br,
           o_orderstatus
    FROM orders WHERE o_orderkey % 83 = 0
    """


@register("sink_csv_br_dialect", oracle=_BR_CSV_SQL, tags=("sink", "cnpj"))
def sink_csv_br_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a keyed slice as semicolon-separated CSV with
    decimal-comma money, read it back under the same dialect options.

    The money column is formatted cents→'R,CC' string BEFORE the sink
    (integer arithmetic, engine-mirrored), because decimal-comma is a
    PRESENTATION dialect: parsing it back as double would re-open the
    float door the cent discipline closed. sep=';' exercises the
    non-default separator path both directions."""
    from pyspark.sql import types as T

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 83 == 0)
        .select(
            "o_orderkey",
            F.concat(
                (cents / 100).cast("bigint").cast("string"),
                F.lit(","),
                F.when(cents % 100 < 10, "0").otherwise(""),
                (cents % 100).cast("string"),
            ).alias("total_br"),
            "o_orderstatus",
        )
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="br_csv_"), "slice.csv")
    sl.write.mode("overwrite").option("header", True).option("sep", ";").csv(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("total_br", T.StringType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).option("sep", ";").csv(
        out
    )


# --- sink_versioned_manifest ------------------------------------------------
#
# Versioned manifest commits with TIME TRAVEL — the file-level story
# cdc_snapshot_at tells at row level: commit v1 (slice A), commit v2
# (slice A plus appended slice B; v1's manifest untouched), then read
# BOTH versions through their manifests and roll up per version. A
# reader pinned to v1 must see exactly the v1 table forever — the
# reproducible-training-run property ("train set = manifest vN") that
# makes lakehouse versioning a data-management feature rather than a
# backup feature.


_VMANIFEST_SQL = """
    WITH a AS (
      SELECT * FROM orders WHERE o_orderkey % 89 = 0),
    b AS (
      SELECT * FROM orders WHERE o_orderkey % 89 = 1)
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM a
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM b) AS BIGINT),
           CAST((SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 FROM a)
                + (SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   FROM b) AS BIGINT)
    """


@register("sink_versioned_manifest", oracle=_VMANIFEST_SQL, tags=("sink", "cdc"))
def sink_versioned_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two manifest commits (v2 appends files, reuses v1's), time-
    travel reads of both, per-version rollup (integer cents).

    Commit protocol: MANIFEST_v{N}.json written via os.replace (the
    sink_manifest discipline) listing the FULL file set of that
    version — append-only data files, versions share files by
    reference (v2 lists v1's files + the new ones; nothing rewrites).
    Scale story: commit cost = one rename regardless of volume;
    version storage cost = only NEW files; GC = files referenced by
    no retained manifest (documented, not modeled)."""
    import glob
    import json

    base = _tempfile.mkdtemp(prefix="vmanifest_")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", cents.alias("cents")
    )
    d1 = _os.path.join(base, "d1")
    o.filter(F.col("o_orderkey") % 89 == 0).write.parquet(d1)
    v1_files = sorted(glob.glob(_os.path.join(d1, "*.parquet")))
    tmp = _os.path.join(base, "_m.tmp")
    with open(tmp, "w") as f:
        json.dump({"files": v1_files}, f)
    _os.replace(tmp, _os.path.join(base, "MANIFEST_v1.json"))

    d2 = _os.path.join(base, "d2")
    o.filter(F.col("o_orderkey") % 89 == 1).write.parquet(d2)
    v2_files = v1_files + sorted(glob.glob(_os.path.join(d2, "*.parquet")))
    with open(tmp, "w") as f:
        json.dump({"files": v2_files}, f)
    _os.replace(tmp, _os.path.join(base, "MANIFEST_v2.json"))

    outs = []
    for ver in (1, 2):
        with open(_os.path.join(base, f"MANIFEST_v{ver}.json")) as f:
            committed = json.load(f)["files"]
        rd = spark.read.parquet(*committed)
        outs.append(
            rd.agg(
                F.lit(ver).cast("bigint").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            ).select("version", "n_rows", "total_cents")
        )
    return outs[0].unionAll(outs[1])


# --- sink_python_ds ---------------------------------------------------------
#
# Custom PYTHON DataSource WRITER (Spark 4 pyspark.sql.datasource) —
# the write-side twin of source_python_ds: each executor's
# write(iterator) streams its partition to a JSON-lines part file,
# returns a WriterCommitMessage, and the driver's commit() publishes
# a manifest of exactly the acknowledged parts (the two-phase commit
# every custom sink needs; abort() leaves the manifest absent). Read
# back under a declared schema through the manifest.


_PYDS_SINK_SQL = """
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 97 = 0
    """


@register("sink_python_ds", oracle=_PYDS_SINK_SQL, tags=("sink", "python_datasource"))
def sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a keyed slice through a Python DataSource writer
    (executor-side JSONL parts + driver commit manifest), read it
    back (integer cents).

    Scale shape: write(iterator) never materializes the partition
    (row-streamed), parts land in place, commit is one manifest write
    — the sink_manifest protocol expressed through the official
    extension API instead of hand-rolled glue. Task retries are safe:
    uncommitted duplicate parts are invisible to the manifest read
    (same decoy property sink_manifest pins)."""
    import glob
    import json as _json
    import uuid

    from pyspark.sql import types as T
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = _tempfile.mkdtemp(prefix="pyds_sink_")

    class _PartMsg(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, base):
            self.base = base

        def write(self, iterator):
            path = _os.path.join(self.base, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(path, "w") as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {"o_orderkey": row[0], "cents": row[1]}
                        )
                        + "\n"
                    )
                    n += 1
            return _PartMsg(path)

        def commit(self, messages):
            manifest = {"files": sorted(m.path for m in messages)}
            tmp = _os.path.join(self.base, "_m.tmp")
            with open(tmp, "w") as f:
                _json.dump(manifest, f)
            _os.replace(tmp, _os.path.join(self.base, "MANIFEST.json"))

        def abort(self, messages):
            pass  # uncommitted parts are invisible to the manifest read

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_manifest_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options["path"])

    spark.dataSource.register(JsonlSink)
    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
                "cents"
            ),
        )
    )
    sl.write.format("jsonl_manifest_sink").option("path", out_dir).mode(
        "append"
    ).save()
    with open(_os.path.join(out_dir, "MANIFEST.json")) as f:
        files = _json.load(f)["files"]
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(files)


# --- source_python_stream ----------------------------------------------------
#
# Streaming PYTHON DataSource (Spark 4 SimpleDataSourceStreamReader) —
# the streaming twin of source_python_ds: a custom Python source that
# feeds Structured Streaming micro-batches with offset tracking, the
# seam where a real crawl/queue consumer (HTTP pagination, Kafka-less
# REST feeds) enters the engine WITHOUT a JVM connector. The source
# generates a finite deterministic table (1024 ids in 4 offset chunks)
# so the fully-drained stream is oracle-checkable as a plain SELECT.

_PYSTREAM_N = 1024
_PYSTREAM_CHUNK = 256


def _pystream_rows(lo: int, hi: int):
    return ((j, j * 7 % 97, j // _PYSTREAM_CHUNK) for j in range(lo, hi))


def make_chunk_stream_source():
    """Build the chunkstream DataSource class (module-level so the
    checkpoint-restart test can register the identical source). The
    feed length is an OPTION (n, default _PYSTREAM_N) so a restart test
    can extend the feed between runs and prove offset recovery."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _ChunkStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, n: int):
            self.n = n

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= self.n:
                return iter([]), {"i": i}
            hi = min(i + _PYSTREAM_CHUNK, self.n)
            return iter(list(_pystream_rows(i, hi))), {"i": hi}

        def readBetweenOffsets(self, start, end):
            return iter(_pystream_rows(start["i"], end["i"]))

    class ChunkStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "chunkstream"

        def schema(self) -> str:
            return "id bigint, v bigint, chunk int"

        def simpleStreamReader(self, schema):
            return _ChunkStreamReader(int(self.options.get("n", _PYSTREAM_N)))

    return ChunkStreamSource


@register(
    "source_python_stream",
    oracle=f"""
    SELECT CAST(i AS BIGINT)            AS id,
           CAST(i * 7 % 97 AS BIGINT)   AS v,
           CAST(i // {_PYSTREAM_CHUNK} AS INT) AS chunk
    FROM range(0, {_PYSTREAM_N}) t(i)
    """,
    tags=("source", "python_datasource", "streaming"),
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source drained to a memory sink.

    The reader tracks offsets as {"i": n}; each read() serves one
    256-id chunk and advances, then reports no-progress at n=1024 so
    processAllAvailable() terminates. Exactly-once comes from the
    offset contract (readBetweenOffsets replays a committed range on
    recovery — the API's recovery path). The registry runs the full
    stream to completion and returns the drained table; the oracle
    re-derives it as a range scan.

    Scale posture: partitions-per-microbatch is the simple reader's
    single-partition contract (it's the bootstrap API); the partitioned
    production form is the batch source_python_ds shape plus offsets.
    """
    import uuid

    spark.dataSource.register(make_chunk_stream_source())
    qname = f"pystream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("chunkstream")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(qname)


# --- scan_parquet_nested -----------------------------------------------------
#
# Nested-struct parquet: schema pruning + predicate pushdown must reach
# INSIDE the struct. A staged parquet holds orders re-shaped as
# (o_orderkey, info struct<priority, clerk_bucket, cents>); the key
# filters on a nested leaf and projects two leaves — the physical scan
# must read ONLY those leaves (ReadSchema shows the pruned struct) and
# push the nested comparison down. The oracle re-derives from flat
# orders, so staging adds no semantics.

@staged("nested")
def _stage_nested_parquet(spark: SparkSession, sf_dir: str) -> str:
    import os

    out = os.path.join(session_tmpdir("nested_stage_"), "orders_nested.parquet")
    o = table(spark, sf_dir, "orders")
    o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            (F.col("o_custkey") % 16).cast("int").alias("clerk_bucket"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        ).alias("info"),
    ).write.mode("overwrite").parquet(out)
    return out


@register(
    "scan_parquet_nested",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority                                  AS priority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)  AS cents
    FROM orders
    WHERE o_custkey % 16 = 3
    """,
    tags=("scan", "source"),
)
def scan_parquet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on a nested struct leaf + project two other leaves over
    staged nested parquet.

    Plan contract (pinned in test_plans): ReadSchema carries only the
    pruned struct (info.priority, info.clerk_bucket, info.cents — and
    after Catalyst's nested-column pruning the untouched leaves never
    leave the scan), and the clerk_bucket comparison appears in
    PushedFilters as a nested-field predicate. At 100 TB nested
    pruning is the difference between reading a 3-leaf slice and
    deserializing the whole struct column."""
    path = _stage_nested_parquet(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.filter(F.col("info.clerk_bucket") == 3).select(
        "o_orderkey",
        F.col("info.priority").alias("priority"),
        F.col("info.cents").alias("cents"),
    )


# --- sink_parquet_zstd -------------------------------------------------------
#
# Parquet compression-codec surface: zstd (the 100 TB-era default —
# ~30% smaller than snappy at similar scan speed) write + read-back.
# Content equality is the contract; codec choice must never change
# values. Completes the codec matrix beside gzip CSV (scan_csv_gzip)
# and snappy-default parquet (every other sink).

@staged("zstd")
def _stage_zstd_parquet(spark: SparkSession, sf_dir: str) -> str:
    import os

    path = os.path.join(session_tmpdir("zstd_stage_"), "docs.parquet")
    table(spark, sf_dir, "documents").write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(path)
    return path


@register(
    "sink_parquet_zstd",
    oracle="""
    SELECT doc_id, lang, source, n_chars,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("sink", "scan"),
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents round-tripped through zstd-compressed parquet; output
    proves bit-identical content (md5 over text) after the
    write-read cycle. Distributed write, one staged copy per
    (session, sf)."""
    path = _stage_zstd_parquet(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("content_md5"),
    )


# --- scan_jsonl_corrupt ------------------------------------------------------
#
# PERMISSIVE JSONL with corrupt-record capture: web-crawl dumps always
# carry a fraction of truncated/garbled lines, and the ingest contract
# is "parse what parses, QUARANTINE the rest with the raw line" — not
# FAILFAST (kills the job at 100 TB) and not DROPMALFORMED (silently
# loses data). A staged JSONL derives corruption deterministically
# (doc_id % 7 == 3 lines are truncated mid-record), so the good/bad
# split is oracle-checkable from the clean table.

@staged("jsonl")
def _stage_corrupt_jsonl(spark: SparkSession, sf_dir: str) -> str:
    import os

    out = os.path.join(session_tmpdir("jsonl_stage_"), "feed.jsonl")
    d = table(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 7 == 3,
            # truncated mid-record: unparseable, lands in _corrupt
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.to_json(F.struct("doc_id", "lang", "n_chars"))
        )
        .alias("value")
    )
    d.write.mode("overwrite").text(out)
    return out


@register(
    "scan_jsonl_corrupt",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)                         AS n_good,
           CAST(sum(n_chars) AS BIGINT)                     AS sum_chars,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 7 = 3)
                AS BIGINT)                                  AS n_corrupt
    FROM documents
    WHERE doc_id % 7 <> 3
    GROUP BY lang
    """,
    tags=("scan", "source", "dq"),
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang good-record rollup + corpus-wide quarantine count from
    a PERMISSIVE JSONL read with columnNameOfCorruptRecord.

    Contract pinned: corrupt lines parse to NULL fields + the raw line
    in _corrupt (they are COUNTED, never dropped); good lines parse
    fully. Spark caveat handled: counting corrupt records requires
    referencing the corrupt column AFTER a barrier (the JSON reader
    refuses queries that select ONLY the corrupt column from an
    unmaterialized scan — internal-corrupt-record restriction), so the
    rollup counts via the parsed-key nullity, which is equivalent
    under this staging rule. One scan, one grid-sized exchange."""
    path = _stage_corrupt_jsonl(spark, sf_dir)
    df = spark.read.schema(
        "doc_id long, lang string, n_chars long, _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(path)
    # a corrupt line has lang NULL + _corrupt set; good lines the reverse
    good = df.filter(F.col("lang").isNotNull())
    bad = df.filter(F.col("lang").isNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corrupt")
    )
    return (
        good.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_good"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(bad))  # 1-row quarantine total, no driver hop
    )


N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, name: str, key: str, n_buckets: int = N_BUCKETS
) -> None:
    """Persist df as a managed table bucketed+sorted by key — the
    pay-once layout for co-located joins on that key."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a previous session's in-memory catalog forgot the table but its
    # warehouse directory survives; saveAsTable refuses to reuse it
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, name.lower()), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )


# --- Z-order clustering -----------------------------------------------------
#
# Multi-dimensional clustering via bit-interleaved Z-values — the from-
# first-principles analog of Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`.
# A table sorted on ONE key skips files only for predicates on that key;
# sorting by the interleaved Z-value clusters BOTH dimensions at once, so
# file-level min/max stats prune range queries on either column. The
# reference's nearest concept is its pair of single-column indexes
# (ETLCNPJFinalEmpresaEstabelecimentos.py:178-180) — which, like a linear
# sort, each serve exactly one dimension.

_ZB = 10  # bits per normalized dimension (domain scaled to [0, 1024))
_ZTILE_SHIFT = 2 * _ZB - 6  # keep top 3+3 interleaved bits -> 64 z-tiles
_PROBE_LO, _PROBE_HI = 256, 511  # probe = one quarter of either domain


def z_value_expr(xs: str, ys: str, bits: int = _ZB) -> str:
    """Bit-interleave SQL expression, valid in BOTH Spark SQL and DuckDB
    (`>> & <<` operators agree): x bits land on even positions, y on odd."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_Z_ORACLE = f"""
    WITH base AS (SELECT l_orderkey AS x, l_partkey AS y FROM lineitem),
    st AS (SELECT min(x) AS minx, max(x) AS maxx,
                  min(y) AS miny, max(y) AS maxy FROM base),
    norm AS (SELECT ((x - minx) * {2**_ZB}) // (maxx - minx + 1) AS xs,
                    ((y - miny) * {2**_ZB}) // (maxy - miny + 1) AS ys
             FROM base, st),
    zed AS (SELECT xs, ys, {z_value_expr("xs", "ys")} AS z FROM norm)
    SELECT z >> {_ZTILE_SHIFT} AS zbucket,
           COUNT(*) AS n,
           MIN(xs) AS min_xs, MAX(xs) AS max_xs,
           MIN(ys) AS min_ys, MAX(ys) AS max_ys,
           (MIN(xs) <= {_PROBE_HI} AND MAX(xs) >= {_PROBE_LO}) AS hit_x,
           (MIN(ys) <= {_PROBE_HI} AND MAX(ys) >= {_PROBE_LO}) AS hit_y
    FROM zed GROUP BY zbucket
"""


@register(
    "layout_zorder",
    oracle=_Z_ORACLE,
    tags=("layout", "zorder"),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering planner: normalize (l_orderkey, l_partkey) to
    10-bit ranks, interleave to a 20-bit Z-value, group into 64 z-tiles
    (the file grain), and report per-tile min/max of both dimensions plus
    whether a quarter-domain probe on EACH dimension overlaps the tile.
    Under Z-order a single-dimension probe overlaps ~probe_fraction of
    tiles on its own axis (16/64 here) instead of all of them — the
    tests write the tiles as real parquet files via repartitionByRange(z)
    and re-derive the same skipping from file-level stats.

    Physical shape: one tiny stats agg broadcast back over the scan, then
    one hash aggregate on zbucket; the Z-arithmetic is pure codegen
    (shift/mask), no UDF."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("x"), F.col("l_partkey").alias("y")
    )
    st = li.agg(
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    norm = li.crossJoin(F.broadcast(st)).selectExpr(
        f"((x - minx) * {2**_ZB}) div (maxx - minx + 1) AS xs",
        f"((y - miny) * {2**_ZB}) div (maxy - miny + 1) AS ys",
    )
    zed = norm.selectExpr("xs", "ys", f"{z_value_expr('xs', 'ys')} AS z")
    return zed.selectExpr(f"z >> {_ZTILE_SHIFT} AS zbucket", "xs", "ys").groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("xs").alias("min_xs"),
        F.max("xs").alias("max_xs"),
        F.min("ys").alias("min_ys"),
        F.max("ys").alias("max_ys"),
        ((F.min("xs") <= _PROBE_HI) & (F.max("xs") >= _PROBE_LO)).alias("hit_x"),
        ((F.min("ys") <= _PROBE_HI) & (F.max("ys") >= _PROBE_LO)).alias("hit_y"),
    )


def zorder_write(spark: SparkSession, sf_dir: str, out: str, n_files: int = 32) -> None:
    """Materialize the Z-ordered layout: range-partition by Z-value into
    n_files contiguous z-runs, sort within, write parquet — exactly what
    OPTIMIZE ZORDER does. Used by tests/test_zorder.py to prove file-level
    skipping on both dimensions from read-side stats."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("x"), F.col("l_partkey").alias("y")
    )
    st = li.agg(
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    norm = li.crossJoin(F.broadcast(st)).selectExpr(
        "x",
        "y",
        f"((x - minx) * {2**_ZB}) div (maxx - minx + 1) AS xs",
        f"((y - miny) * {2**_ZB}) div (maxy - miny + 1) AS ys",
    )
    zed = norm.selectExpr("x", "y", "xs", "ys", f"{z_value_expr('xs', 'ys')} AS z")
    (
        zed.repartitionByRange(n_files, F.col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
