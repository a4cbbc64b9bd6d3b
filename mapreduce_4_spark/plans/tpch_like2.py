"""Second batch of TPC-H-shaped queries, adapted to the driver's leaner
star schema (no partsupp / commitdate / phone columns — see TESTDATA.md).

Shapes covered: EXISTS via semi join (Q4), pure scan-side aggregate with a
selective conjunctive filter (Q6), outer-join count distribution (Q13),
scalar-subquery max over a derived view (Q15), correlated per-group average
threshold (Q17), disjunctive multi-column predicates (Q19), and
anti-join + above-average-balance scalar subquery (Q22).

Scale notes (SCALE.md discipline): every scalar subquery materializes to a
one-row DataFrame broadcast-cross-joined into the fact scan — no driver
collect; per-part thresholds (Q17) shuffle once on l_partkey, the same key
as the main join, so AQE can reuse the exchange. Q6 is the canonical
pushdown probe: all three predicates reach the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import (
    cents, csum, dsum_longs, revenue_sum, sql_dec, sql_dsum, unscale,
)
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "q4_priority_check",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    tags=("join", "aggregate", "subquery"),
    description="TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, "
                "priority histogram of orders holding returned lines",
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT CAST(SUM({sql_dec('l_extendedprice')} * {sql_dec('l_discount')}) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    tags=("aggregate", "pushdown"),
    description="TPC-H Q6 shape: single-table forecast-revenue aggregate; "
                "all three predicates push into the parquet scan",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    # long-cents product sum: bit-identical, ~2x cheaper (round-14)
    return li.agg(
        dsum_longs(cents("l_extendedprice") * cents("l_discount"), 4)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    tags=("join", "aggregate", "outer"),
    description="TPC-H Q13 shape: orders-per-customer distribution via a "
                "filtered left outer join (zero-order customers kept)",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM({sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')})) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE rev_dec = (SELECT MAX(rev_dec) FROM revenue)
    """,
    tags=("join", "aggregate", "subquery"),
    description="TPC-H Q15 shape: top supplier by quarterly revenue; the "
                "scalar MAX compares in exact decimal (ties kept), never double",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    # long-cents revenue kept as the exact 1e4-scaled long through the
    # MAX comparison and the equality join (both exact on longs, same
    # ties kept as the exact decimal); only the output converts to
    # double — the identical correctly-rounded value (round-14).
    # 100 TB bound: per-supplier quarterly cents sum ~1e17 << 2^63.
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
        .alias("rev_cents")
    )
    top = revenue.agg(F.max("rev_cents").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), revenue.rev_cents == top.max_rev)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name",
                unscale(F.col("rev_cents"), 4).alias("total_revenue"))
    )


@register(
    "q17_small_qty_revenue",
    oracle=f"""
        SELECT CAST(SUM({sql_dec('l1.l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly,
               COUNT(*) AS n_small
        FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        WHERE p_brand = 'Brand#12'
          AND l1.l_quantity < 0.2 * (
              SELECT CAST(SUM({sql_dec('l2.l_quantity')}) AS DOUBLE) / COUNT(*)
              FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
    tags=("join", "aggregate", "subquery"),
    description="TPC-H Q17 shape: correlated per-part average-quantity "
                "threshold, decorrelated to a grouped threshold join on the "
                "same key as the main join",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # long-cents per-part average (round-14): same exact sum, same
    # single IEEE division, identical avg_qty double
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (unscale(F.sum(cents("l_quantity")), 2) / F.count(F.lit(1)))
        .alias("avg_qty")
    )
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey)
        .join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (unscale(F.sum(cents("l_extendedprice")), 2) / F.lit(7.0))
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q19_disjunctive_brand",
    oracle=f"""
        SELECT CAST(SUM({sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')})) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#5'  AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
    tags=("join", "aggregate"),
    description="TPC-H Q19 shape: three-way disjunctive brand/size/quantity "
                "predicate evaluated post-join (classic OR-pushdown test)",
)
def q19_disjunctive_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    s = F.col("p_size")
    b = F.col("p_brand")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#23") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#5") & s.between(20, 50) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            # long-cents revenue: bit-identical, ~2x cheaper (round-14)
            revenue_sum("l_extendedprice", "l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_idle_customers",
    oracle=f"""
        SELECT c_nationkey, COUNT(*) AS numcust,
               {sql_dsum('c_acctbal')} AS totacctbal
        FROM customer
        WHERE c_acctbal > (
                SELECT CAST(SUM({sql_dec('c_acctbal')}) AS DOUBLE) / COUNT(*)
                FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    """,
    tags=("join", "aggregate", "subquery", "anti"),
    description="TPC-H Q22 shape (no phone column -> nationkey as country "
                "code): rich customers with zero orders, NOT EXISTS as a "
                "left-anti join against a scalar average-balance subquery",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # long-cents average balance (round-14; acctbal may be negative —
    # cents' rint and the decimal cast agree away from an exact .5,
    # which a 2-dp balance times 100 never is)
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((unscale(F.sum(cents("c_acctbal")), 2) / F.count(F.lit(1)))
             .alias("ab"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            csum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "q21_sole_returner",
    oracle="""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1
        WHERE s_suppkey = l1.l_suppkey
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
    tags=("join", "aggregate", "subquery", "topk"),
    description="TPC-H Q21 shape (returnflag for commit-date semantics): "
                "suppliers solely responsible for returns in multi-supplier "
                "orders. Both correlated subqueries decorrelate into ONE "
                "order-level aggregate (distinct-supplier and "
                "distinct-returner counts) — the fact table is scanned "
                "twice, never per-subquery",
)
def q21_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    # two COUNT(DISTINCT ...) in one aggregate plan as an Expand that
    # duplicates every fact row per distinct group (x2 hash-agg work on
    # the whole scan); the same two numbers fall out of a plain
    # (order, supplier) pre-aggregate — n_supps = pair count,
    # n_ret_supps = pairs with any returning line — with no Expand
    # (round-15, guide §2.3 aggregate-before-shuffle; 1.49 -> 0.89 s
    # at sf0.1, result equality pinned by the oracle hash)
    per_supp = li.groupBy(F.col("l_orderkey").alias("o_key"), "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .alias("ret")
    )
    order_stats = per_supp.groupBy("o_key").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("ret").alias("n_ret_supps"),
    )
    # EXISTS other-supplier  <=> n_supps > 1
    # NOT EXISTS other returning supplier (given this line returns)
    #                        <=> n_ret_supps = 1
    qualified = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            order_stats.filter(
                (F.col("n_supps") > 1) & (F.col("n_ret_supps") == 1)
            ),
            F.col("l_orderkey") == F.col("o_key"),
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qualified.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )
