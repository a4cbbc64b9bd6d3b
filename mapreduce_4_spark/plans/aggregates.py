"""Aggregation queries — the generalization of the reference's only
aggregate (COUNT(*) per (file, word), SURVEY.md §2.1 O7/O9) to the full
groupBy().agg() surface: count, sum, avg, min, max, count distinct.

Catalyst plans every one of these as partial HashAggregate -> shuffle on
the group keys -> final HashAggregate — the two-phase combine the
reference hand-rolled with its Shuffler/Reducer stages. Group keys here
(returnflag x linestatus, orderstatus, event_type) are low-cardinality, so
at 100 TB the exchange carries only (keys x partitions) rows after partial
aggregation — these queries are scan-bound, as they should be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import (
    cavg, cents, csum, sql_davg, sql_dec, sql_dsum, unscale,
)
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               CAST(SUM({sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')})) AS DOUBLE) AS sum_disc_price,
               CAST(SUM({sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')}) * (1 + {sql_dec('l_tax')})) AS DOUBLE) AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "flagship-relational"),
    description="TPC-H Q1 pricing summary: the full agg function set over lineitem",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Long-cents fast path (see functions/money.py): all four 2-dp
    # measures become exact integer cents; the two product measures are
    # exact 1e4-/1e6-scaled long products per row (bounded ~4e11 <<
    # 2^63 at any corpus size) summed in DECIMAL(38,0) (overflow-free);
    # the three single-column sums stay in long — 100 TB bounds: qty
    # cents ~5e3/row x 6e11 rows = 3e15, price cents ~1e7/row x 6e11 =
    # 6e18 split over 4 (flag,status) groups, discount cents ~10/row —
    # all < 2^63 per group. Output is bit-identical to the decimal
    # path (same exact rationals, one correctly-rounded double cast).
    li = load_table(spark, sf_dir, "lineitem")
    q, p = cents("l_quantity"), cents("l_extendedprice")
    d, t = cents("l_discount"), cents("l_tax")
    disc_price = p * (F.lit(100) - d)           # 1e4-scaled
    charge = disc_price * (F.lit(100) + t)      # 1e6-scaled
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(q).alias("_sq"),
            F.sum(p).alias("_sp"),
            F.sum(d).alias("_sd"),
            F.sum(disc_price.cast("decimal(38,0)")).alias("_sdp"),
            F.sum(charge.cast("decimal(38,0)")).alias("_sch"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            unscale(F.col("_sq"), 2).alias("sum_qty"),
            unscale(F.col("_sp"), 2).alias("sum_base_price"),
            unscale(F.col("_sdp"), 4).alias("sum_disc_price"),
            unscale(F.col("_sch"), 6).alias("sum_charge"),
            (unscale(F.col("_sq"), 2) / F.col("count_order")).alias("avg_qty"),
            (unscale(F.col("_sp"), 2) / F.col("count_order")).alias("avg_price"),
            (unscale(F.col("_sd"), 2) / F.col("count_order")).alias("avg_disc"),
            "count_order",
        )
    )


@register(
    "agg_orders_stats",
    oracle=f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               {sql_dsum('o_totalprice')} AS sum_price,
               {sql_davg('o_totalprice')} AS avg_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("aggregate",),
    description="count / countDistinct / min / max / sum / avg per order status",
)
def agg_orders_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min/max of doubles pick existing values — exact without the decimal
    # detour; sum/avg use it.
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            # long-cents sum/avg (round-14): bit-identical, long-backed
            # buffers; 100 TB bound ~2e18 cents per status group < 2^63
            csum("o_totalprice").alias("sum_price"),
            cavg("o_totalprice").alias("avg_price"),
        )
    )


@register(
    "agg_events_by_type",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(value) AS min_value,
               MAX(value) AS max_value,
               {sql_dsum('value')} AS sum_value
        FROM events
        GROUP BY event_type
    """,
    tags=("aggregate", "events"),
    description="event stream rollup by type (batch view of the streaming agg)",
)
def agg_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            csum("value").alias("sum_value"),
        )
    )


@register(
    "argmax_events",
    oracle="""
        WITH t AS (
            SELECT event_type, event_id, user_id,
                   CAST(round(value * 100) AS BIGINT) * 1000000 + event_id AS ord
            FROM events
        )
        SELECT event_type,
               arg_max(event_id, ord) AS top_event_id,
               arg_min(event_id, ord) AS bottom_event_id,
               arg_max(user_id, ord) AS top_user_id
        FROM t GROUP BY event_type
    """,
    tags=("aggregate", "argmax"),
    description="max_by/min_by (argmax) aggregates with a deterministic "
                "composite ordering key (value cents * 1e6 + id)",
)
def argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id",
                                                    "user_id", "value")
    ord_col = cents("value") * 1_000_000 + F.col("event_id")
    t = ev.withColumn("ord", ord_col)
    return t.groupBy("event_type").agg(
        F.max_by("event_id", F.col("ord")).alias("top_event_id"),
        F.min_by("event_id", F.col("ord")).alias("bottom_event_id"),
        F.max_by("user_id", F.col("ord")).alias("top_user_id"),
    )


@register(
    "agg_global_lineitem",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               {sql_dsum('l_quantity')} AS total_qty,
               MIN(l_shipdate) AS first_ship,
               MAX(l_shipdate) AS last_ship
        FROM lineitem
    """,
    tags=("aggregate",),
    description="global (no group key) aggregate — single-row reduction",
)
def agg_global_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        csum("l_quantity").alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
