"""Query registry: every engine capability lands here as a named plan.

Each entry pairs
  - a Spark plan: Callable[(SparkSession, sf_dir) -> DataFrame], and
  - (when SQL-expressible) a DuckDB oracle: ANSI SQL over the same parquet
    tables, producing identical column names and bit-identical values.

The registry IS the contract surface exported by __spark_entry__.py
(queries() / oracle_sql()); it is also what the test harness iterates.

Determinism rules every plan follows (so order-insensitive value-hashes
match the oracle):
- every computed column is aliased identically on both sides;
- double-typed SUM/AVG go through DECIMAL accumulation, then cast back to
  double: exact, order-insensitive, identical across engines (a plain
  double sum is partition-order-dependent in Spark);
- top-k / window orderings are total orders (unique-key tiebreakers);
- no reliance on row order anywhere (the driver's hash is
  order-insensitive; the reference's golden CSV is unordered too,
  SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records weaker rows-only check
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a plan to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def quantize(col, digits: int = 6):
    """Engine-portable decimal quantization of a double column:
    floor(x * 10^d + 0.5) / 10^d.

    NOT round(): when a double sits on a decimal half boundary, Spark's
    round() (BigDecimal HALF_UP over the shortest string repr) and
    DuckDB's (float multiply + native rounding) disagree about which
    neighbour to pick — a 1-in-thousands flip first observed on
    text_tfidf at sf0.1. floor over the SAME double is the same double
    in both engines, so plans quantize with this helper and oracles
    mirror it textually via quantize_sql()."""
    from pyspark.sql import functions as F

    scale = float(10**digits)
    return F.floor(col * scale + 0.5) / scale


def quantize_sql(expr: str, digits: int = 6) -> str:
    """DuckDB twin of quantize(): identical arithmetic, textual form. The
    text is Spark SQL too (its DECIMAL 0.5 widens to DOUBLE against the
    double product), and one-statement Spark plans use it as such."""
    scale = f"1e{digits}"
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# --- full-domain Knuth multiplicative hash ------------------------------------
#
# The naive form `(key * 2654435761) % 2^32` is exact int64 only while
# key < 2^63 / 2654435761 ≈ 3.47e9 — inside the 100 TB design point
# (~1e10 docs), the multiply overflows (errors under ANSI mode). These
# helpers compute the SAME value exactly over the FULL int64 domain by
# splitting the reduced key into 16-bit halves so no intermediate
# exceeds ~2^48:
#
#   h        = key mod 2^32                  (pmod: non-negative)
#   (h*K)%M  = (((h>>16)*K mod 2^16) << 16 + (h&0xFFFF)*K) mod 2^32
#
# — because (x * 2^16) mod 2^32 = (x mod 2^16) * 2^16. For keys in the
# naive form's safe domain the two forms agree bit-exactly (pinned in
# tests/test_adversarial_r9.py against a big-int Python reference), so
# swapping a plan onto knuth32() never changes shipped-fixture results;
# oracles mirror knuth32_sql() textually so the hash check covers the
# widened arithmetic itself.

KNUTH32 = 2654435761  # 2^32 / phi, the classic multiplicative constant
MOD32 = 4294967296  # 2^32


def knuth32(col):
    """Exact (col * 2654435761) mod 2^32 for ANY bigint col — pure
    int64 arithmetic (shift/mask/multiply), whole-stage-codegen'd."""
    from pyspark.sql import functions as F

    h = F.pmod(col, F.lit(MOD32))
    hi = F.shiftright(h, 16)  # h DIV 2^16 (h is non-negative)
    lo = h.bitwiseAND(F.lit(65535))
    return F.pmod(
        F.pmod(hi * F.lit(KNUTH32), F.lit(65536)) * F.lit(65536)
        + lo * F.lit(KNUTH32),
        F.lit(MOD32),
    )


def knuth32_sql(expr: str) -> str:
    """DuckDB twin of knuth32(): identical split-multiply arithmetic,
    textual form (DuckDB % follows the dividend sign, so pmod is
    spelled ((x % m) + m) % m)."""
    h = f"((({expr}) % {MOD32} + {MOD32}) % {MOD32})"
    return (
        f"((((({h} >> 16) * {KNUTH32}) % 65536) * 65536"
        f" + ({h} & 65535) * {KNUTH32}) % {MOD32})"
    )
