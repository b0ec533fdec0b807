"""Shared helpers.

Oracle-parity note (why the DECIMAL dance): the driver compares every query
against DuckDB with an order-insensitive value hash.  A plain SUM(double)
accumulates in whatever order partitions finish, so Spark and DuckDB would
disagree in the last few ulps.  All input monetary/measure columns carry at
most a handful of decimal digits, so we cast each row-level term to
DECIMAL(18,6) (exact, order-independent addition) and cast the exact sum back
to DOUBLE.  Spark converts through decimal text: a double becomes a decimal
from Double.toString, and the sum becomes a double by BigDecimal.doubleValue.
DuckDB's binary casts round differently (a row term can land one unit of the
sixth decimal off, and a sum whose unscaled value passes 2^53 casts to a
neighbouring double), so the oracle reproduces Spark's conversions through
VARCHAR (graft/oracle.py `_ds`), giving bit-identical results regardless of
partitioning.  Ratios (averages, VWAP) divide two such bit-identical numbers,
which is again deterministic under IEEE-754.

Remaining caveat: Java 17's Double.toString is not always the shortest
decimal that round-trips (JDK-4511638, fixed in JDK 19), while DuckDB's
VARCHAR is.  A row term whose two texts differ could round to different
decimals near a tie of the sixth digit; no such term has been found yet.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEC = "DECIMAL(18,6)"

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

    Domain: every row term must satisfy |x| < 1e12, because DECIMAL(18,6)
    keeps 12 integer digits.  A larger term fails the query on both engines
    (Spark NUMERIC_VALUE_OUT_OF_RANGE, DuckDB ConversionException).
    """
    return F.expr(f"CAST(SUM(CAST(({expr}) AS {DEC})) AS DOUBLE)").alias(alias)
