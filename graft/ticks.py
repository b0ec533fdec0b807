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
SESSION_GAP = "INTERVAL 30 MINUTES"
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
    """Downsampled OHLCV candles per channel per hour (tectonicdb candles).

    Rows group on ts's day and hour, read from the stored TIMESTAMP_NTZ
    (date_trunc would cast ts to a TIMESTAMP in the session time zone), and
    each group's bucket is built once from them, a TIMESTAMP_NTZ as in the
    oracle.  A null ts gives a null day, hour and bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day"), F.hour("ts").alias("hour")
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
        .select(
            "event_type",
            F.expr("timestampadd(HOUR, hour, CAST(day AS TIMESTAMP_NTZ))").alias("bucket"),
            "open", "high", "low", "close", "volume", "n_ticks",
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
        .withColumn("vwap", F.try_divide("notional", "total_size"))
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

    Only [ts, user_id, value] (24 B/row) cross the one Exchange, and the
    sort key is (user_id, ts), with no event_id tie-break, so equal-ts rows
    come in arbitrary order.  That matches the oracle because: (a)
    n_events and total_value do not depend on order; and (b) the sequence
    of values of a sorted multiset does not depend on how ties are ordered,
    so the lag gaps per user, and hence n_sessions, are the same.  A null ts
    makes its own session: Spark sorts it first, where it and the row after
    it have a null lag, and the oracle sorts it last, with a null gap.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gapped = ev.withColumn("prev", F.lag("ts").over(w))
    return gapped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(f"count_if(prev IS NULL OR ts - prev > {SESSION_GAP})").alias(
            "n_sessions"
        ),
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
