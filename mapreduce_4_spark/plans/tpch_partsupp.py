"""TPC-H shapes that need a partsupp relation (Q2/Q9/Q11/Q16/Q20),
adapted to the driver's leaner star schema.

The fixture set has no partsupp table, so one is DERIVED: the distinct
(l_partkey, l_suppkey) pairs actually traded, with cost/stock columns
synthesized as deterministic functions of the keys — identical SQL in
the DuckDB oracle, so every query here hash-checks end to end.

Scale notes (SCALE.md discipline): the derived partsupp is lineitem-
sized (distinct of the fact's own keys — one shuffle, reused across the
queries' joins on the same keys); part/supplier/nation/region are
broadcast everywhere they appear; Q2's per-part min arrives by broadcast
join, not a re-shuffle; Q11's grand total is a one-row broadcast; Q20's
IN-chains decorrelate to LeftSemi joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import cents, csum, dsum_longs, sql_dsum
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table

#: deterministic partsupp synthesis — keep the Spark and SQL twins in sync
_PS_SQL = """
    SELECT l_partkey AS ps_partkey,
           l_suppkey AS ps_suppkey,
           (l_partkey * 3 + l_suppkey * 17) % 9999 + 1 AS ps_availqty,
           ((l_partkey * 7 + l_suppkey * 13) % 100000 + 100)
               * CAST(0.01 AS DOUBLE) AS ps_supplycost
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


#: one persisted partsupp per (session, sf_dir) — the derivation's
#: lineitem-sized distinct shuffle is paid ONCE and every partsupp query
#: (Q2/Q9/Q11/Q16/Q20) reads the materialization, the way the reference
#: reuses its temp_mapper/ stage artifacts across consumers
#: (asio_deep/main.cpp:293-331). At 100 TB the same move is the bucketed
#: snapshot write (sources/versioned.py); in-session, persist() is the
#: zero-infrastructure equivalent (spills to disk if it outgrows memory).
_PS_CACHE: dict[tuple[str, str], DataFrame] = {}


def derived_partsupp(spark: SparkSession, sf_dir: str,
                     cached: bool = True) -> DataFrame:
    """partsupp stand-in: distinct traded (part, supplier) pairs with
    key-derived cost and stock — same rows in any engine, any order."""
    # keyed by applicationId, not id(spark): a new session can reuse a
    # dead session's object id and would receive a DataFrame bound to a
    # stopped context; applicationId is unique per SparkContext lifetime.
    # Only one context is active per process, so entries under any OTHER
    # app id are bound to stopped contexts — prune them here instead of
    # letting dead persisted DataFrames accumulate for the process life.
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _PS_CACHE if k[0] != app_id]:
        # hygiene: unpersist before dropping, in case the entry's
        # context is somehow still alive (one-active-context-per-process
        # is Spark's norm but not enforced here); for genuinely stopped
        # contexts this is a harmless no-op that throws, hence the guard
        try:
            _PS_CACHE[k].unpersist()
        except Exception:
            pass
        del _PS_CACHE[k]
    key = (app_id, sf_dir)
    if cached and key in _PS_CACHE:
        return _PS_CACHE[key]
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    ps = pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 3 + F.col("ps_suppkey") * 17) % 9999 + 1)
        .alias("ps_availqty"),
        (
            ((F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 13) % 100000 + 100)
            * F.lit(0.01)
        ).alias("ps_supplycost"),
    )
    if cached:
        ps = ps.persist()
        _PS_CACHE[key] = ps
    return ps


def _supplier_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier x nation (x region key) — the broadcastable geo dimension."""
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name", "n_regionkey")


@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH partsupp AS ({_PS_SQL}),
        eligible AS (
            SELECT p.p_partkey, p.p_brand, ps.ps_supplycost,
                   s.s_name, s.s_acctbal, n.n_name
            FROM part p
            JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
            JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE' AND p.p_size <= 25 AND p.p_type = 'LARGE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        FROM eligible e
        WHERE ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eligible e2
                               WHERE e2.p_partkey = e.p_partkey)
    """,
    tags=("tpch", "join", "subquery"),
    description="TPC-H Q2 shape: cheapest EUROPE supplier per qualifying "
                "part — the correlated min-cost subquery decorrelates to a "
                "per-part aggregate joined back by broadcast",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 25) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_brand")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    geo = _supplier_geo(spark, sf_dir).join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    eligible = (
        derived_partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(geo), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "ps_supplycost",
                "s_name", "s_acctbal", "n_name")
    )
    min_cost = eligible.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        eligible.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                "ps_supplycost")
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
        WITH partsupp AS ({_PS_SQL})
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)"
                         " - ps.ps_supplycost * l.l_quantity", 4)} AS profit
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
                        AND l.l_suppkey = ps.ps_suppkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%gear%'
        GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("tpch", "join", "aggregate"),
    description="TPC-H Q9 shape: per-nation per-year profit on 'gear' "
                "parts — fact joins partsupp on its own composite key, all "
                "dimensions broadcast, exact long-cents profit sum",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    geo = _supplier_geo(spark, sf_dir).select("s_suppkey", "n_name")
    ps = derived_partsupp(spark, sf_dir)
    # exact 1e4-scaled profit on longs; ps_supplycost is a true 2-dp
    # value (k * 0.01, k an integer <= 100099: OPTIMIZATION_r15.md §8)
    profit = (
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        - cents("ps_supplycost") * cents("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(geo), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum_longs(profit, 4).alias("profit"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
        WITH partsupp AS ({_PS_SQL}),
        national AS (
            SELECT ps.ps_partkey, ps.ps_supplycost, ps.ps_availqty
            FROM partsupp ps
            JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_7'
        )
        SELECT ps_partkey,
               {sql_dsum("ps_supplycost * ps_availqty")} AS part_value
        FROM national
        GROUP BY ps_partkey
        HAVING {sql_dsum("ps_supplycost * ps_availqty")} >
               (SELECT {sql_dsum("ps_supplycost * ps_availqty")} * 0.001
                FROM national)
    """,
    tags=("tpch", "aggregate", "subquery"),
    description="TPC-H Q11 shape: parts whose NATION_7 stock value exceeds "
                "0.1% of the national total — grand total arrives as a "
                "one-row broadcast, never a driver collect",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat_supp = _supplier_geo(spark, sf_dir).filter(
        F.col("n_name") == "NATION_7"
    ).select("s_suppkey")
    national = derived_partsupp(spark, sf_dir).join(
        F.broadcast(nat_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    # exact cents of cost x stock (2-dp ps_supplycost, OPTIMIZATION_r15.md
    # §8; ps_availqty an integer <= 9999)
    value = cents("ps_supplycost") * F.col("ps_availqty")
    by_part = national.groupBy("ps_partkey").agg(
        dsum_longs(value, 2).alias("part_value")
    )
    total = national.agg((dsum_longs(value, 2) * 0.001).alias("threshold"))
    return (
        by_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", "part_value")
    )


@register(
    "q16_supplier_part_counts",
    oracle=f"""
        WITH partsupp AS ({_PS_SQL})
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
        FROM partsupp ps
        JOIN part p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_brand <> 'Brand#15'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
          AND ps.ps_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "aggregate", "join"),
    description="TPC-H Q16 shape: distinct supplier counts per part "
                "attribute bucket, excluding blacklisted (negative-balance) "
                "suppliers via anti join",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#15")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklisted = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        derived_partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(blacklisted),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_restock_candidates",
    oracle=f"""
        WITH partsupp AS ({_PS_SQL}),
        shipped AS (
            SELECT l_partkey, l_suppkey,
                   {sql_dsum("l_quantity")} AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT ps.ps_suppkey
            FROM partsupp ps
            JOIN shipped q ON ps.ps_partkey = q.l_partkey
                          AND ps.ps_suppkey = q.l_suppkey
            WHERE ps.ps_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
              AND ps.ps_availqty < 10 * q.qty
        )
    """,
    tags=("tpch", "join", "subquery"),
    description="TPC-H Q20 shape (direction inverted for the synthetic "
                "stock levels): suppliers whose availqty for 'small *' "
                "parts is under 10x a year's shipments — the nested IN "
                "chain decorrelates to LeftSemi joins over the per-pair "
                "quantity aggregate",
)
def q20_restock_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(csum("l_quantity").alias("qty"))
    )
    small_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small %"))
        .select("p_partkey")
    )
    understocked = (
        derived_partsupp(spark, sf_dir)
        .join(
            F.broadcast(small_parts),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") < 10 * F.col("qty"))
        .select("ps_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return supplier.join(
        understocked, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
    )


@register(
    "q8_market_share",
    oracle="""
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                             THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                       AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY year(o.o_orderdate)
    """,
    tags=("tpch", "join", "aggregate"),
    description="TPC-H Q8 shape (completes the 22-query set): NATION_7's "
                "share of AMERICA-market ECONOMY-part revenue per year — "
                "7-relation star, every dimension broadcast, share = one "
                "IEEE division of two exact long-cents sums",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate")
             >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate")
               < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    market_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    # exact 1e4-scaled volume: the unscaled value of the oracle's
    # CAST(p * (1 - d) AS DECIMAL(18,4))
    vol = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(market_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supp_nation),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                dsum_longs(
                    F.when(F.col("supp_nation") == "NATION_7", vol)
                    .otherwise(F.lit(0).cast("long")), 4)
                / dsum_longs(vol, 4)
            ).alias("mkt_share")
        )
    )
