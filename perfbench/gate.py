"""Correctness gate, run outside the timed region.

Every check raises ``GateError`` on a mismatch; the caller records it against
the operations it covers.
"""

from __future__ import annotations

import csv
import hashlib
import io

BOM = b"\xef\xbb\xbf"


class GateError(AssertionError):
    """An output differs from its oracle."""


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of rows of strings."""
    encoded = sorted("\x1f".join(r) for r in rows)
    h = hashlib.sha256()
    for line in encoded:
        h.update(line.encode("utf-8"))
        h.update(b"\x1e")
    return len(encoded), h.hexdigest()


def read_bom_csv(path: str, columns: list[str]) -> list[tuple[str, ...]]:
    """Rows of a ';' CSV that must start with exactly one UTF-8 BOM and hold
    exactly one header line, equal to `columns`."""
    with open(path, "rb") as f:
        data = f.read()
    if not data.startswith(BOM):
        raise GateError(f"{path}: no UTF-8 BOM")
    body = data[len(BOM):]
    if BOM in body:
        raise GateError(f"{path}: more than one BOM")
    rows = list(csv.reader(io.StringIO(body.decode("utf-8"), newline=""), delimiter=";"))
    if not rows or rows[0] != columns:
        raise GateError(f"{path}: header {rows[0] if rows else None} != {columns}")
    if any(r == columns for r in rows[1:]):
        raise GateError(f"{path}: header repeated in the body")
    return [tuple(r) for r in rows[1:]]


def _cell(v) -> str:
    # Spark's CSV writer writes NULL as an empty field and trims leading and
    # trailing blanks (ignore{Leading,Trailing}WhiteSpace default to true on write).
    return "" if v is None else str(v).strip()


def cnpj_oracle_digest(paths: dict[str, list[str]]) -> tuple[int, str, list[str]]:
    """DuckDB's verbatim QUERY_FINAL over the drop, ingested as the reference
    does (pandas dtype=str over latin-1), then the affinity views.
    Returns (rows, hash, columns)."""
    import duckdb
    import pandas as pd

    from etl_cnpjs_spark.cnpj.flagship import QUERY_FINAL, affinity_view_sql
    from etl_cnpjs_spark.cnpj.schemas import AFFINITY_KEYS, TABLE_COLUMNS

    con = duckdb.connect()
    try:
        for t in AFFINITY_KEYS:
            pdf = pd.concat(
                [
                    pd.read_csv(p, sep=";", header=None, dtype=str, encoding="latin1", names=TABLE_COLUMNS[t])
                    for p in paths[t]
                ],
                ignore_index=True,
            )
            con.register(f"raw_{t}", pdf)
            con.execute(f"CREATE VIEW {t} AS {affinity_view_sql(t, 'raw_' + t)}")
        cur = con.execute(QUERY_FINAL)
        columns = [d[0] for d in cur.description]
        count, digest = rows_digest(tuple(_cell(v) for v in r) for r in cur.fetchall())
    finally:
        con.close()
    return count, digest, columns


def check_bom_csv(path: str, columns: list[str], expect: tuple[int, str]) -> int:
    """Check one exported BOM CSV against the oracle's (rows, hash); returns rows."""
    rows = read_bom_csv(path, columns)
    got = rows_digest(tuple(c.strip() for c in r) for r in rows)
    if got[0] != expect[0]:
        raise GateError(f"{path}: {got[0]} rows, oracle has {expect[0]}")
    if got[1] != expect[1]:
        raise GateError(f"{path}: value hash differs from the oracle's")
    return got[0]


def check_frame(spark_df, con, sql: str, name: str) -> int:
    """Spark result vs DuckDB running `sql`, through tests/compare.py."""
    from tests.compare import assert_frames_match

    spark_pdf = spark_df.toPandas()
    try:
        assert_frames_match(spark_pdf, con.execute(sql).df(), name)
    except AssertionError as exc:
        raise GateError(str(exc).splitlines()[0]) from exc
    return len(spark_pdf)
