"""Text column expressions — shared by the text-analysis and near-dup
plan families (north_star: text analysis, dedup).

All pure Catalyst expressions (split / transform / aggregate higher-order
functions): they run inside whole-stage codegen, scale linearly with
tokens, and never leave the JVM. Each has an exact DuckDB twin used by the
oracles (string_split_regex / list_transform / list_sum).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenization — identical in DuckDB as
# string_split_regex(trim(x), '\s+').
_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text."""
    return F.split(F.trim(text), _WS)


SHINGLE_N = 3  # word n-gram width of every shingle set (the oracles' too)


def shingles(toks: Column) -> Column:
    """Distinct word n-gram shingles, n = SHINGLE_N, built by zipping n
    shifted slices of the token array (shingle_i = toks[i] .. toks[i+n-1]).

    WHY slices + zip_with and not transform(sequence(...), i ->
    slice(toks, i, n)): Catalyst gets no common-subexpression
    elimination inside lambda bodies, so a `toks` reference INSIDE the
    lambda re-evaluates the whole upstream expression (usually the
    regexp tokenizer over the full text) once PER ELEMENT — ~token-count
    × tokenize cost per row. With slices, every `toks` reference sits
    outside any lambda and evaluates a constant n+2 times per row;
    measured 3.5× faster on the sf0.1 corpus (and 7.8× for bigrams),
    bit-identical output. Guarded for short docs: the k<1 case returns
    an empty array explicitly (DuckDB's generate_series just returns
    [])."""
    n = SHINGLE_N
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, k) for i in range(n)]
    z = parts[0]
    for p in parts[1:]:
        z = F.zip_with(z, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.when(F.size(toks) >= n, z).otherwise(F.array().cast("array<string>"))
    )


def char_count_no_ws(text: Column) -> Column:
    """Characters excluding whitespace."""
    return F.length(F.regexp_replace(text, _WS, ""))


def token_overlap_count(toks: Column, vocab: list[str]) -> Column:
    """How many tokens fall in a fixed vocabulary (stopword/marker hits)."""
    lits = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(toks, lambda t: F.array_contains(lits, t)))


def normalized_text(text: Column) -> Column:
    """Canonical form for exact-content fingerprints: lowercase, collapsed
    whitespace, trimmed."""
    return F.lower(F.regexp_replace(F.trim(text), _WS, " "))
