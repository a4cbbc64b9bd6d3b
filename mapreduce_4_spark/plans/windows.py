"""Window-function queries — ranking, analytic (lag/lead), running and
sliding frames. Absent from the reference (SURVEY.md §2.2 "Window
functions: None").

Scale notes: a window spec shuffles once on partitionBy and sorts within
partitions. Every ORDER BY here carries a unique tie-break column — not
just for oracle determinism: non-deterministic frames also break retry
idempotency on a real cluster (a re-run task could produce different
running sums). Running sums aggregate DECIMAL (exact at any order) and
surface double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import cents, dec, sql_dec, unscale
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "window_rank_orders",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               NTILE(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
    description="ranking family per customer: row_number / rank / dense_rank / ntile",
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w).cast("long"))
        .withColumn("quartile", F.ntile(4).over(w).cast("long"))
    )


@register(
    "window_running_revenue",
    oracle=f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM({sql_dec('o_totalprice')}) OVER w AS DOUBLE) AS running_revenue,
               LAG(o_totalprice) OVER w AS prev_price,
               LEAD(o_totalprice) OVER w AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
    description="running revenue + lag/lead per customer in order-date order",
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        # long-cents window sum (round-14) rescaled through unscale()'s
        # exact DECIMAL division (round-15): unconditionally correctly
        # rounded at ANY frame magnitude — the same guarantee every
        # aggregate path carries — where the old double/100.0 form was
        # exact only while the frame's cents sum stayed below 2^53
        .withColumn("running_revenue",
                    unscale(F.sum(cents("o_totalprice")).over(w), 2))
        .withColumn("prev_price", F.lag("o_totalprice").over(wo))
        .withColumn("next_price", F.lead("o_totalprice").over(wo))
        .drop("o_totalprice")
    )


@register(
    "window_first_last_events",
    oracle="""
        SELECT event_id, user_id,
               FIRST_VALUE(event_type) OVER w AS first_type,
               LAST_VALUE(event_type) OVER w AS last_type,
               NTH_VALUE(event_type, 2) OVER w AS second_type
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "events"),
    description="first_value / last_value / nth_value over a full-partition frame",
)
def window_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .select(
            "event_id",
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.nth_value("event_type", 2).over(w).alias("second_type"),
        )
    )


@register(
    "window_moving_avg_events",
    oracle=f"""
        SELECT event_id, user_id,
               CAST(SUM({sql_dec('value')}) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "events"),
    description="3-row moving average of event value per user",
)
def window_moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .withColumn(
            "moving_avg",
            # long-cents 3-row frame sum (round-14), rescaled through
            # unscale()'s exact DECIMAL division (round-15; same
            # unconditional-exactness argument as window_running_revenue)
            unscale(F.sum(cents("value")).over(w), 2)
            / F.count(F.lit(1)).over(w),
        )
        .drop("ts", "value")
    )


@register(
    "window_distribution_orders",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               ntile(10) OVER w AS decile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
    description="distribution window functions: percent_rank / cume_dist "
                "/ ntile over price within status — integer-ratio "
                "definitions, so doubles are bit-identical across engines",
)
def window_distribution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
    )


@register(
    "lateral_top2_orders_per_customer",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
    """,
    tags=("join", "subquery", "lateral"),
    description="correlated LATERAL subquery with per-row LIMIT (top-2 "
                "orders per customer) — Catalyst decorrelates it to a "
                "join + ranked filter, never a per-customer re-scan",
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lat c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders_lat o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


@register(
    "forward_fill_events",
    oracle="""
        WITH g AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
            FROM events
        )
        SELECT event_id, user_id, v AS value_gapped,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled
        FROM g
    """,
    tags=("window", "timeseries"),
    description="forward fill (last-observation-carried-forward): gaps "
                "are synthesized by nulling every 7th event, then filled "
                "with last(... ignorenulls) over the per-user timeline — "
                "the sensor/telemetry gap-repair primitive. One shuffle "
                "on user_id; leading nulls stay null in both engines.",
)
def forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        v.alias("value_gapped"),
        F.last(v, ignorenulls=True).over(w).alias("value_filled"),
    )


#: exact decay weights 0.9^i as decimal strings (9^i has exactly i
#: digits for i <= 21, so "0." + str(9**i) IS 0.9^i with no float error)
_DECAY_WEIGHTS = ["1"] + [f"0.{9**i}" for i in range(1, 8)]


@register(
    "windowed_decay_sum_events",
    oracle=f"""
        SELECT event_id, user_id,
               CAST({" + ".join(
                   f"COALESCE(lag(CAST(value AS DECIMAL(18,2)), {i}) OVER ("
                   f"PARTITION BY user_id ORDER BY ts, event_id), 0) * {w}"
                   for i, w in enumerate(_DECAY_WEIGHTS)
               )} AS DOUBLE) AS decay_sum
        FROM events
    """,
    tags=("window", "timeseries"),
    description="exponentially-decayed rolling sum over the last 8 events "
                "per user (weights 0.9^i as exact decimal literals, values "
                "through DECIMAL(18,2)) — the EWMA-shaped feature that is "
                "bit-identical across engines because every product and "
                "sum is exact decimal arithmetic, cast to double once at "
                "the end. Single window shuffle, 8 lags, no recursion.",
)
def windowed_decay_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # decimal, not long cents: the per-row products with the decimal
    # weights and their decimal sum are this query's rounding contract
    base = dec("value")
    zero = F.lit("0").cast("decimal(18,2)")
    terms = [
        F.coalesce(F.lag(base, i).over(w), zero)
        * F.lit(wt).cast(f"decimal({len(wt)},{max(len(wt) - 2, 0)})")
        for i, wt in enumerate(_DECAY_WEIGHTS)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return ev.select(
        "event_id", "user_id", total.cast("double").alias("decay_sum")
    )
