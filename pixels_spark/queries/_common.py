"""Helpers shared by the declared-query modules: the decimal-sum contract."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dec(c: Column) -> Column:
    """The DECIMAL(18,6) accumulation type ``_dsum`` sums in."""
    return c.cast("decimal(18,6)")


def _dsum(c: Column) -> Column:
    """Order-independent sum of a double expression.

    Double addition is not associative; Spark's partial-agg merge order is
    nondeterministic while the DuckDB oracle sums in file order, so raw
    ``sum(double)`` can differ at the 9th significant digit (the driver's
    hash granularity). Accumulating in DECIMAL(18,6) — exact and associative
    — and casting the total back to double is bit-identical on both engines
    in any order. (The oracle SQL mirrors this: ``_sql_dsum``.)
    """
    return F.sum(_dec(c)).cast("double")


def _sql_dsum(expr: str) -> str:
    """SQL fragment mirroring ``_dsum``."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
