"""Determinism helpers for oracle-checked queries (SURVEY.md §5.3).

Double summation order differs between engines, so any SUM over
doubles that must hash-match the DuckDB oracle is computed over an
exact decimal cast (identical result regardless of accumulation
order), then cast back to double. Rounding helpers cover values whose
computation paths differ (UDFs vs SQL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-insensitive exact SUM of a double column → double.

    Oracle equivalent: ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def fpsum(col: Column | str, alias: str, scale: int = 10000) -> Column:
    """Order-insensitive SUM of a fixed-point-valued double via scaled
    BIGINT accumulation — ~4× cheaper than the DECIMAL(25,6) path
    (plain long adds instead of 128-bit decimal adds) and exactly as
    deterministic, PROVIDED the operand is NON-NEGATIVE fixed-point
    with at most log10(scale) decimal places (e.g. money columns and
    their products). Both engines land on the identical integer per
    row and sum longs exactly.

    The per-row integerization is ``CAST(x*scale + 0.5 AS LONG)``
    (truncate-toward-zero == round-half-up for non-negative x), NOT
    ``F.round``: Spark's ROUND on doubles goes through BigDecimal
    per row, which profiling showed doubles the aggregate cost. For
    a fixed-point x, x*scale is within 1 ulp of an integer n, so
    truncation of n±ε+0.5 and DuckDB's round(n±ε) both yield n.

    Overflow bound: |sum(x)| < 2^63 / scale ≈ 9.2e14 at scale 1e4 —
    per GROUP, not per table; fall back to ``dsum`` for global sums
    beyond that. Oracle equivalent:
    ``CAST(SUM(CAST(round(x * scale) AS BIGINT)) AS DOUBLE) / scale.0``
    """
    return (fp_long_sum(col, scale).cast("double") / float(scale)).alias(alias)


def fp_long_sum(col: Column | str, scale: int = 10000) -> Column:
    """The scaled-long accumulation at :func:`fpsum`'s core, undivided
    and unaliased — for callers composing it further (e.g. fixed-point
    averages dividing by a count)."""
    return F.sum(fp_long(col, scale))


def fp_long(col: Column | str, scale: int = 10000) -> Column:
    """The per-row integerizer of :func:`fpsum`: ``CAST(x*scale + 0.5
    AS LONG)`` — ONE copy of the +0.5-truncate recipe, for callers
    that sum signed or staged integers themselves. Same non-negative
    fixed-point precondition; the oracle side is
    ``CAST(round(x * scale) AS BIGINT)``."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * scale + F.lit(0.5)).cast("long")


def fpsum_sql(expr: str, alias: str, scale: int = 10000) -> str:
    """The DuckDB oracle fragment matching :func:`fpsum` bit-for-bit:
    long sum → double conversion → double division, same two
    roundings in the same order as the Spark plan."""
    return (
        f"CAST(SUM(CAST(round(({expr}) * {scale}) AS BIGINT)) AS DOUBLE)"
        f" / {float(scale)} AS {alias}"
    )
