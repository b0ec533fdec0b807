"""Shared helpers.

Oracle-parity note (why sums count micro-units): the driver compares every
query against DuckDB with an order-insensitive value hash.  A plain
SUM(double) accumulates in whatever order partitions finish, so Spark and
DuckDB would disagree in the last few ulps.  All input monetary/measure
columns carry at most a handful of decimal digits, so each row term is
rounded to an integer count of micro-units (µ-units, 1e-6) and summed as a
BIGINT, like every other exact sum here: integer addition is exact and does
not depend on order.  The row rounding is plain IEEE arithmetic that both
engines compute alike, and below the declared |term| < 2e9 it is the exact
HALF_UP µ count of a six-decimal term.  The exact µ-unit sum is converted
to DOUBLE once per group, through a decimal that is exact (graft/oracle.py
`_ds` is the oracle's twin).  Ratios (averages, VWAP) divide two such
bit-identical numbers, which is again deterministic under IEEE-754.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Session-scoped catalog of opened tables: every spark.read.parquet() call
# re-reads the footer to infer the schema (~0.15 s of driver-side metadata
# work per call), and `events` alone is opened by six different queries.
# Reusing the DataFrame handle per (session, sf_dir, table) does that work
# once, like a catalog table.  This caches NO computed data — only the
# logical plan / schema; every query still scans the parquet from disk.
_CATALOG: WeakKeyDictionary = WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The session's DataFrame for `<sf_dir>/<table>.parquet`.

    Input tables are assumed immutable for the session's lifetime: the cached
    handle keeps the file listing from the first read, so a table rewritten
    in the same session reads stale files or fails on the missing ones.
    """
    tables = _CATALOG.setdefault(spark, {})
    key = (sf_dir, table)
    df = tables.get(key)
    if df is None:
        df = tables[key] = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df


def dec_sum(expr: str, alias: str) -> Column:
    """Order-independent, DuckDB-bit-identical SUM of a double expression.

    Each row term x becomes sign(x) * floor(|x| * 1e6 + 0.5) µ-units, a
    BIGINT: the double |x| * 1e6 rounded half away from zero, on negative
    terms too.  For a term with at most six decimals that is the HALF_UP
    rounding of x's decimal text: below 2e9 the double product is within
    0.24 µ of the true µ count, and adding 0.5 rounds by at most 0.125 µ
    more, short of the 0.5 µ that would move the floor.  A term with more
    decimals is rounded from its double product too, alike on both
    engines; near a half µ that can differ from rounding its text.  The
    BIGINT sum times 0.000001 is an exact DECIMAL(27,6), so the one DOUBLE
    cast per group is correctly rounded.  A null term is skipped, as SUM
    skips nulls.

    Domain, checked on both engines, never a silently wrong sum:
    - every row term satisfies |x| < 2e9, the range where the rounding
      above is exact; a larger term, NaN or ±inf raises
      `dec_sum: |term| >= 2e9` (Spark raise_error, DuckDB error);
    - a group's µ-unit sum stays below 2^63 (|sum| < ~9.22e12); past it
      Spark raises ARITHMETIC_OVERFLOW and DuckDB ConversionException.
      Spark checks every partial sum, so it may also raise on a group whose
      terms reach 2^63 in some order but whose total does not.
    """
    x = f"({expr})"
    term = (f"CASE WHEN abs({x}) >= 2e9 THEN raise_error('dec_sum: |term| >= 2e9')"
            f" ELSE CAST(sign({x}) * floor(abs({x}) * 1e6 + 0.5) AS BIGINT) END")
    return F.expr(f"CAST(SUM({term}) * 0.000001 AS DOUBLE)").alias(alias)
