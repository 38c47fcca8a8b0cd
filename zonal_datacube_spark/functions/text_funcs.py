"""Shared text expressions — tokenization, shingling, fingerprinting.

All JVM-side column expressions (no Python UDFs): these run inside
whole-stage codegen on the hot path of every text operator. The DuckDB
twins live next to each oracle query, except ``TOKENS_SQL``, the twin of
``tokens()`` that every text oracle shares.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKENS_SQL = "string_split(lower(text), ' ')"


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization over lowercased text (the fixture's
    closed-vocabulary contract, FIXTURES.md documents table)."""
    return F.split(F.lower(F.col(text_col)), " ")


def shingles(tokens_col: str = "t", n: int = 3) -> Column:
    """Distinct n-token shingles (the near-dup signal: token *sets* over a
    31-word vocabulary saturate, token *sequences* don't). Requires the
    caller to filter size >= n — Spark's ``sequence(1, 0)`` counts down."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, size({tokens_col}) - {n - 1}),"
            f" i -> concat_ws(' ', slice({tokens_col}, i, {n})))"
        )
    )


def canonical_fingerprint(text_col: str = "text") -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — byte-identical across engines for ASCII tokens."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))))
    )


def stopword_count(tokens_col: str = "t", stopwords: tuple[str, ...] = ("the", "a")) -> Column:
    # column expressions, not string interpolation — a stopword containing
    # a quote must not be able to alter the predicate
    stopword_arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(F.col(tokens_col), lambda x: F.array_contains(stopword_arr, x)))
