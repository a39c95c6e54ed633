"""QUERY_FINAL — the reference's entire analytical surface, verbatim
(ETLCNPJFinalEmpresaEstabelecimentos.py:191-234; semantics SURVEY.md §2.3).

Two SQL surfaces over the same affinity views, both spark.sql() of the
one constant; there is no DataFrame-API form:

- run_flagship_sql: the reference SQL string, unmodified, via spark.sql()
  over *affinity views* — per-table views that TRY_CAST exactly the
  join/filter key columns to BIGINT, emulating SQLite NUMERIC affinity
  (values enter as strings; the reference compares them numerically,
  etl.py:224-233). Text columns stay raw — padding, decimal-comma and
  yyyymmdd text survive to the output, as in the golden CSV. The identical
  string + identical views run on DuckDB as the parity oracle.
- run_flagship: the same string with one hint, BROADCAST_HINT, after its
  first SELECT — the plan we want at 100 TB: the three code-table dims
  (cnae, municipios, motivo) broadcast, zero shuffles for them, and the
  one big-big join (empresas ⋈ estabelecimentos) left to the planner
  (sort-merge, or a broadcast when empresas is small).

Quirks preserved (SURVEY.md §2.3): motivo_situacao_cadastral joined on the
*status* code; cnpj_basico projected from the fact side; IN-list duplicate
literals are set semantics; no ORDER BY — output order never asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_cnpjs_spark.cnpj.schemas import AFFINITY_KEYS, TABLE_COLUMNS

# etl.py:191-234, verbatim (whitespace included).
QUERY_FINAL = """
SELECT
    e.cnpj_basico,
    e.nome_fantasia,
    emp.razao_social,
    c.descricao_cnae,
    e.bairro,
    m.nome_municipio,
    e.tipo_do_logradouro,
    e.logradouro,
    e.numero,
    e.cep,
    e.complemento,
    e.ddd1,
    e.telefone1,
    e.ddd2,
    e.telefone2,
    e.correio_eletronico,
    e.data_de_inicio_atividade,
    e.data_situacao_cadastro,
    emp.capital_social,
    mot.descricao_situacao_cadastral
FROM
    estabelecimentos e
JOIN
    cnae c ON e.id_cnae = c.id_cnae
JOIN
    empresas emp ON emp.cnpj_basico = e.cnpj_basico
JOIN
    municipios m on m.id_municipio = e.id_municipio
JOIN
    motivo_situacao_cadastral mot on mot.id_situacao_cadastral = e.id_situacao_cadastral
WHERE
    e.ID_MUNICIPIO in (6313,7157,6669)
    and e.id_situacao_cadastral in (2, 3, 8)
    and e.id_cnae in (
        4321500,4330404,4330401,1622601,1622602,1622699,2330301,2330302,2330305,
        2599301,3313901,3314707,3329501,3511500,4120400,4213800,4221902,4221903,
        4221904,4221905,4222701,4292801,4299501,4299599,4311801,4311802,4312600,
        4313400,4319300,4321500,4322301,4322302,4322303,4329105,4329199,4330401,
        4330402,4330403,4330404,4330405,4330499,4391600,4399101,4399102,4399103,
        4399104,4399105,4399199,7111100,7112000,7119701,7119702,7410202
    )
"""

# The table aliases are QUERY_FINAL's own (c, m, mot): bounded-cardinality
# code tables. The hinted text is derived, never a second copy of the query.
BROADCAST_HINT = "/*+ BROADCAST(c, m, mot) */"
QUERY_FINAL_BROADCAST = QUERY_FINAL.replace("SELECT", f"SELECT {BROADCAST_HINT}", 1)


def affinity_view_sql(table: str, source: str) -> str:
    """SELECT that retypes exactly the AFFINITY_KEYS columns of `table` to
    BIGINT (TRY_CAST: non-numeric → NULL, dropped by the inner joins —
    SQLite's behavior for non-numeric TEXT under NUMERIC affinity is
    likewise a failed numeric match). Runs on both Spark SQL and DuckDB."""
    keys = set(AFFINITY_KEYS.get(table, ()))
    cols = ", ".join(
        f"TRY_CAST({c} AS BIGINT) AS {c}" if c in keys else c for c in TABLE_COLUMNS[table]
    )
    return f"SELECT {cols} FROM {source}"


def register_affinity_views(spark: SparkSession, prefix: str = "raw_") -> None:
    """Create the five QUERY_FINAL-facing views over `{prefix}{table}`."""
    for table in AFFINITY_KEYS:
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {table} AS {affinity_view_sql(table, prefix + table)}"
        )


def run_flagship_sql(spark: SparkSession) -> DataFrame:
    """The reference SQL, unmodified, over the affinity views."""
    return spark.sql(QUERY_FINAL)


def run_flagship(spark: SparkSession) -> DataFrame:
    """QUERY_FINAL with the dims broadcast (QUERY_FINAL_BROADCAST)."""
    return spark.sql(QUERY_FINAL_BROADCAST)
