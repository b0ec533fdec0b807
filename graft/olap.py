"""OLAP operators over the TPC-H-ish star schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graft.core import dec_sum, load


def _orders_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: pricing summary report per returnflag/linestatus."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
            dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation for EUROPE customers on 1996 orders (Q5-ish)."""
    li = load(spark, sf_dir, "lineitem")
    orders = _orders_1996(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dec_sum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity and revenue per brand for small parts (p_size <= 25)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum("l_quantity", "total_qty"),
            dec_sum("l_extendedprice * (1 - l_discount)", "revenue"),
        )
    )


def priority_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1996 orders having at least one returned lineitem, per priority (Q4-ish
    semi-join)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _orders_1996(spark, sf_dir)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
