"""How a double becomes engine-identical — the one rounding policy and the
one exact fold shared by every operator and its DuckDB oracle.

Rounding. Spark and DuckDB agree on a binary midpoint (``round(2.5)`` is
3 on both) but split on a DECIMAL one: Spark rounds the shortest decimal
string of the double HALF_UP, so ``round(1.005, 2)`` is 1.01, while
DuckDB rounds the binary value 1.00499999999999989..., giving 1.0. A
value landing on a decimal midpoint therefore rounds differently on the
two engines and flips a hash, a rank or a class boundary downstream.
``floor(x * scale + 0.5)`` is the same IEEE arithmetic on both engines,
so every grid below is built on :func:`half_up` and every oracle writes
the matching SQL template (FIXTURES.md cookbook rules 6, 8 and 15).
Midpoints round toward +inf, which makes the grids HALF_UP only for
non-negative inputs — but the two engines always agree, which is all the
parity contract needs.

Exact folds. A double sum accumulates in partition order, so a 6dp mean
or stddev can flip its last digit when the corpus is laid out over more
files (the multi-file rehearsal caught exactly this). A fold therefore
quantizes onto an integer grid (:func:`micro_units`, :func:`cents`),
sums in :func:`wide` DECIMAL(38,0), and only then takes one fixed double
chain per group: :func:`micro_mean`, or :func:`from_micro` around a
stddev. The decimal sum is order-independent and exact to 1e38, where a
BIGINT sum wraps silently past int64 in non-ANSI Spark; DuckDB's
``sum(BIGINT)`` is already an exact HUGEINT. Widen the factors, not the
product: a BIGINT product such as v6·dt_us can overflow before a later
cast sees it.

:func:`dot` is the same policy for vectors: an explicit float→double cast
and a fixed left-to-right fold, so every scorer — Spark operator, ANN
kernel and oracle — sums in one order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HALF_UP_SQL = "floor(({x}) * {scale} + 0.5)"
G6_SQL = HALF_UP_SQL.format(x="{x}", scale=1000000) + " / 1000000"
CENTS_SQL = f"CAST({HALF_UP_SQL.format(x='{x}', scale=100)} AS BIGINT)"


def half_up(c: Column, scale: float | Column) -> Column:
    """``floor(c * scale + 0.5)`` — the half-up integer grid at 1/scale."""
    return F.floor(c * scale + F.lit(0.5))


def g6(c: Column) -> Column:
    """Display rounding on the 1e-6 grid (rule 15)."""
    return half_up(c, 1000000) / 1000000


def round4_half_up(c: Column) -> Column:
    """Rounding to 4 dp — revenue-scale values that feed ratios and ranks."""
    return half_up(c, 10000) / 10000


def cents(c: Column) -> Column:
    """Cent-grid quantization (rule 8): every statistic downstream is
    integer-exact on both engines."""
    return half_up(c, 100).cast("bigint")


def micro_units(c: Column) -> Column:
    """Integer micro-units (1e-6 grid) — the exact fold key for zonal sums."""
    return half_up(c, 1000000).cast("bigint")


def wide(c: Column) -> Column:
    """``c`` as DECIMAL(38,0), the exact integer accumulator."""
    return c.cast("decimal(38,0)")


def from_micro(c: Column) -> Column:
    """A micro-unit (1e-6 grid) quantity back in units."""
    return c / 1000000


def micro_mean(total: Column, n: Column) -> Column:
    """6dp mean of ``n`` values from their exact micro-unit ``total``."""
    return F.round(from_micro(total.cast("double") / n), 6)


def revenue() -> Column:
    """TPC-H line revenue, ``l_extendedprice * (1 - l_discount)``."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def dot(a: str, b: str) -> Column:
    """Dot product of two float-array columns in double precision, summed
    left to right."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)"
    )
