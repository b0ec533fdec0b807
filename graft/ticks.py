"""Tick-store operators: the tectonicdb analog over the `events` table.

tectonicdb stores order-book ticks ``(timestamp, seq, is_trade, is_bid,
price, size)`` sorted by timestamp+seq and serves time-range reads
(GET n FROM a TO b), counts (COUNT/COUNT ALL/INFO) and downsampled
candles.  Here `events` plays the tick stream: ``ts`` is the timestamp,
``event_id`` the seq, ``event_type`` the channel, ``value`` the price and
``props`` carries a JSON payload whose ``k`` field plays the size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graft.core import dec_sum, load

RANGE_LO = "2024-01-08 00:00:00"
RANGE_HI = "2024-01-15 00:00:00"
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes
_ID_OF_VALUE = "CASE WHEN value IS NOT NULL THEN event_id END"


def ticks_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET FROM..TO analog: raw ticks of one channel in a time window."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= RANGE_LO)
            & (F.col("ts") < RANGE_HI)
            & (F.col("event_type") == "purchase")
        )
        .select("event_id", "ts", "user_id", "value")
    )


def candles_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsampled OHLCV candles per channel per hour (tectonicdb candles)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            # a row with a null ordering is skipped, so open and close skip
            # null values, as DuckDB's arg_min/arg_max do
            F.expr(f"min_by(value, {_ID_OF_VALUE})").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr(f"max_by(value, {_ID_OF_VALUE})").alias("close"),
            dec_sum("value", "volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted average price per channel per day; size = props.k."""
    ev = load(spark, sf_dir, "events")
    sized = ev.withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return (
        sized.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        )
        .agg(
            dec_sum("value * k", "notional"),
            F.sum("k").alias("total_size"),
        )
        # try_divide: a zero total size gives a null vwap, as in DuckDB
        .withColumn(
            "vwap", F.try_divide("notional", F.col("total_size").cast("double"))
        )
    )


def type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INFO / COUNT ALL analog: per-channel summary statistics."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dec_sum("value", "total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (streaming session_window batch analog): per user,
    number of sessions split at >30 min inactivity gaps.

    Only [user_id, us, value] (24 B/row) cross the one Exchange, and the
    sort key is (user_id, us), with no event_id tie-break.  That matches the
    oracle because: (a) n_events and total_value do not depend on order;
    (b) us = unix_micros(ts) is a bijection (TIMESTAMP_NTZ has exactly µs
    precision), so ordering by us is ordering by ts, with equal-ts rows in
    arbitrary order; and (c) the sequence of values of a sorted multiset
    does not depend on how ties are ordered, so the lag gaps per user, and
    hence n_sessions = Σ new_session, are the same.  A null ts makes its own
    session: Spark sorts it first, where it and the row after it have a
    null lag, and the oracle sorts it last, with a null gap.
    """
    ev = load(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ pinned to UTC)
    # so unix_micros matches DuckDB's epoch_us exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    slim = ev.select("user_id", us.alias("us"), "value")
    w = Window.partitionBy("user_id").orderBy("us")
    gapped = slim.withColumn("prev_us", F.lag("us").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > F.lit(SESSION_GAP_US)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return gapped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
        dec_sum("value", "total_value"),
    )


def top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by purchase spend with deterministic ranking."""
    ev = load(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dec_sum("value", "spend"),
        )
    )
    # orderBy().limit(10) compiles to TakeOrderedAndProject (per-partition
    # top-k, driver merge, no global shuffle), so the rank window runs over
    # 10 rows rather than a single-partition sort of every user.  Same output
    # as the oracle: both use the total order (spend DESC, user_id), with a
    # null user_id last, as DuckDB sorts it (Spark's ASC puts nulls first).
    by_id = F.col("user_id").asc_nulls_last()
    top = spend.orderBy(F.col("spend").desc(), by_id).limit(10)
    w = Window.orderBy(F.col("spend").desc(), by_id)
    # row_number is INT in Spark but BIGINT in DuckDB; cast for schema parity
    return top.withColumn("rank", F.row_number().over(w).cast("long"))
