"""Maintenance queries: keyed upsert and data-quality validation, both
oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import cents, csum, sql_dsum, unscale
from mapreduce_4_spark.operators.maintenance import upsert, validate
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "upsert_orders",
    oracle="""
        WITH updates AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 1000 AS o_totalprice
            FROM orders WHERE o_orderkey % 10 = 0
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
    """,
    tags=("maintenance", "join", "setop"),
    description="keyed upsert (anti-join + union): a +1000 price correction "
                "for every 10th order wins over the base row",
)
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    return upsert(base, updates, "o_orderkey")


@register(
    "dq_violations",
    oracle="""
        SELECT 'null_orderkey' AS rule,
               COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations FROM orders
        UNION ALL
        SELECT 'nonpositive_price', COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
        UNION ALL
        SELECT 'unknown_status',
               COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) FROM orders
        UNION ALL
        SELECT 'orphan_customer',
               COUNT(*) FILTER (WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        FROM orders
        UNION ALL
        SELECT 'suspicious_high', COUNT(*) FILTER (WHERE o_totalprice > 400000) FROM orders
    """,
    tags=("maintenance", "quality"),
    description="data-quality gate: per-rule violation counts in one pass "
                "(null keys, invalid domains, referential integrity, outliers)",
)
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust_keys = load_table(spark, sf_dir, "customer").select("c_custkey")
    with_ref = orders.join(
        F.broadcast(cust_keys),
        orders.o_custkey == cust_keys.c_custkey,
        "left",
    )
    return validate(
        with_ref,
        {
            "null_orderkey": F.col("o_orderkey").isNull(),
            "nonpositive_price": F.col("o_totalprice") <= 0,
            "unknown_status": ~F.col("o_orderstatus").isin("F", "O", "P"),
            "orphan_customer": F.col("c_custkey").isNull(),
            "suspicious_high": F.col("o_totalprice") > 400000,
        },
    )


@register(
    "scd2_customer_segments",
    oracle="""
        SELECT * FROM (
            -- currents whose segment did not change
            SELECT c_custkey, c_mktsegment,
                   TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to,
                   TRUE AS is_current
            FROM customer WHERE c_custkey % 3 <> 0
            UNION ALL
            -- closed-out history for changed keys
            SELECT c_custkey, c_mktsegment,
                   TIMESTAMP '1995-01-01 00:00:00',
                   TIMESTAMP '2000-06-15 00:00:00', FALSE
            FROM customer WHERE c_custkey % 3 = 0
            UNION ALL
            -- the replacement current rows
            SELECT c_custkey, 'SEG-UPDATED',
                   TIMESTAMP '2000-06-15 00:00:00', NULL, TRUE
            FROM customer WHERE c_custkey % 3 = 0
            UNION ALL
            -- brand-new keys inserted by the merge
            SELECT c_custkey + 1000000, 'SEG-NEW',
                   TIMESTAMP '2000-06-15 00:00:00', NULL, TRUE
            FROM customer WHERE c_custkey % 7 = 0
        )
    """,
    tags=("maintenance", "join", "scd2"),
    description="SCD type-2 merge on the customer dimension: every 3rd key "
                "changes segment (close + reopen), every 7th spawns a new "
                "key; single full-outer join + inline explode",
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_4_spark.operators.maintenance import scd2_merge

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t0 = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    t1 = F.lit("2000-06-15 00:00:00").cast("timestamp_ntz")
    dim = cust.select(
        "c_custkey", "c_mktsegment",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", F.lit("SEG-UPDATED").alias("c_mktsegment"),
                t1.alias("change_ts"))
    )
    inserts = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select((F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("SEG-NEW").alias("c_mktsegment"), t1.alias("change_ts"))
    )
    return scd2_merge(dim, updates.unionByName(inserts),
                      key="c_custkey", tracked=["c_mktsegment"])


@register(
    "incremental_revenue_rollup",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
    """,
    tags=("maintenance", "aggregate", "incremental"),
    description="incremental materialized-rollup refresh: merge the frozen "
                "pre-cutoff partial aggregate with the increment's partial "
                "instead of rescanning history — exact because integer-cents "
                "partials re-aggregate associatively",
)
def incremental_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp_ntz")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz")

    # exact integer-cents partials (long; 100 TB bound ~1e17 cents per
    # month < 2^63), rescaled once after the merge
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month.alias("month")).agg(
            F.sum(cents("o_totalprice")).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    # at 100 TB the base partial is a stored table refreshed in place;
    # here both partials derive from the same scan, split on the cutoff
    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    increment = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(increment)
        .groupBy("month")
        .agg(
            unscale(F.sum("rev_cents"), 2).alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


@register(
    "snapshot_diff_orders",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        v2 AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN o_totalprice + 1000 ELSE o_totalprice
                   END AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 1
            UNION ALL
            SELECT o_orderkey + 100000000, 'N',
                   CAST(1.00 AS DECIMAL(15,2))
            FROM orders WHERE o_orderkey % 101 = 3
        )
        SELECT CASE WHEN n.o_orderkey IS NULL THEN 'D'
                    WHEN o.o_orderkey IS NULL THEN 'I'
                    ELSE 'U' END AS op,
               COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               o.o_orderstatus AS old_o_orderstatus,
               o.o_totalprice AS old_o_totalprice,
               n.o_orderstatus AS new_o_orderstatus,
               n.o_totalprice AS new_o_totalprice
        FROM v1 o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey
        WHERE n.o_orderkey IS NULL OR o.o_orderkey IS NULL
           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    tags=("maintenance", "cdc", "join"),
    description="change data feed between two table snapshots "
                "(operators.maintenance.snapshot_diff — Delta "
                "table_changes / Iceberg changelog shape): v2 simulates "
                "the next publish with every-10th price corrections, "
                "every-97th deletes, and every-101st synthetic inserts; "
                "the diff is ONE full-outer join on the key emitting "
                "I/U/D rows with null-safe update detection. The same "
                "primitive reads real published versions via "
                "sources.versioned.table_changes (tested in "
                "tests/test_versioned_tables.py).",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_4_spark.operators.maintenance import snapshot_diff

    v1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = v1.filter(F.col("o_orderkey") % 97 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1000
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        v1.filter(F.col("o_orderkey") % 101 == 3).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit("1.00").cast("decimal(15,2)").alias("o_totalprice"),
        )
    )
    return snapshot_diff(
        v1, v2, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )


@register(
    "gdpr_delete_orders",
    oracle=f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM orders
        WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0)
        GROUP BY o_orderstatus
    """,
    tags=("maintenance", "join"),
    description="right-to-be-forgotten pass: every 13th customer files an "
                "erasure request; their orders are removed by ONE LeftAnti "
                "join against the broadcast request list "
                "(operators.maintenance.delete_rows), and the surviving "
                "table is summarized per status. The versioned-table twin "
                "(sources.versioned.delete_version) publishes the same "
                "plan as a new snapshot with layout preserved and the "
                "deletions visible as CDC 'D' ops — "
                "tests/test_versioned_tables.py.",
)
def gdpr_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete list is always tiny next to the fact table, so the
    anti-join broadcasts and the base never shuffles — at 100 TB the
    delete costs one scan plus the rewrite of touched storage, never a
    repartition."""
    from mapreduce_4_spark.operators.maintenance import delete_rows

    orders = load_table(spark, sf_dir, "orders")
    requests = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 13 == 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return (
        delete_rows(orders, keys=requests, key="o_custkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
            csum("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "retention_delete_orders",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM orders
        WHERE o_orderdate IS NULL
           OR NOT (o_orderdate < TIMESTAMP '1993-01-01 00:00:00')
        GROUP BY order_year
    """,
    tags=("maintenance",),
    description="retention pass: predicate delete of all orders before "
                "1993 (SQL DELETE semantics — only a definitely-TRUE "
                "predicate deletes, NULL keeps), surviving volume per "
                "order year",
)
def retention_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_4_spark.operators.maintenance import delete_rows

    orders = load_table(spark, sf_dir, "orders")
    kept = delete_rows(
        orders, predicate=F.col("o_orderdate") < "1993-01-01 00:00:00"
    )
    return (
        kept.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
            csum("o_totalprice").alias("sum_price"),
        )
    )


_JMV_MOD = 10  # o_orderkey % 10 == 0 -> today's delta batch; rest = base


@register(
    "incremental_join_refresh",
    oracle=f"""
        SELECT n.n_name AS nation,
               {sql_dsum("o.o_totalprice")} AS revenue,
               COUNT(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    tags=("maintenance", "join", "aggregate", "incremental"),
    description="incremental JOIN-view maintenance (insert-only delta): "
                "the per-nation revenue MV over orders JOIN customer "
                "JOIN nation is refreshed as merge(frozen base partials, "
                "delta-join partials) — the delta joins the BROADCAST "
                "dimensions, history is never rescanned or re-joined, "
                "and integer-cents partials re-aggregate associatively so the "
                "merged view is bit-identical to the full recompute the "
                "oracle runs. The star-join complement of "
                "incremental_revenue_rollup's single-table refresh",
)
def incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dims = F.broadcast(
        cust.join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "n_name")
    )

    # exact integer-cents partials (long; 100 TB bound ~3e17 cents per
    # nation < 2^63), rescaled once after the merge
    def partial(df: DataFrame) -> DataFrame:
        return (
            df.join(dims, df.o_custkey == dims.c_custkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.sum(cents("o_totalprice")).alias("rev_cents"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    # At 100 TB `base` is the stored MV's partial table; here both
    # derive from one scan split on the delta predicate, which keeps the
    # query self-contained while exercising the identical merge plan.
    base = partial(orders.filter(F.col("o_orderkey") % _JMV_MOD != 0))
    delta = partial(orders.filter(F.col("o_orderkey") % _JMV_MOD == 0))
    return (
        base.unionByName(delta)
        .groupBy("nation")
        .agg(
            unscale(F.sum("rev_cents"), 2).alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


_Z_BITS = 8  # bits per dimension in the z-value (16-bit interleave)


def _z_terms_sql(u: str, v: str) -> str:
    """Unrolled bit-interleave, valid SQL in both engines: bit i of each
    dimension lands at position 2i / 2i+1 of the z-value."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({v} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_interleave_events",
    oracle=f"""
        WITH d AS (
            SELECT event_id,
                   user_id & 255 AS u8,
                   CAST(json_extract(props, '$.k') AS BIGINT) & 255 AS k8
            FROM events
        )
        SELECT event_id, u8, k8,
               CAST({_z_terms_sql('u8', 'k8')} AS BIGINT) AS zval,
               CAST(({_z_terms_sql('u8', 'k8')}) >> 8 AS BIGINT) AS zbucket
        FROM d
    """,
    tags=("maintenance", "layout", "scalar"),
    description="Z-order (Morton) interleave of two event dimensions "
                "(user_id low byte x props.k): the multi-dimensional "
                "clustering key that lets ONE sort order serve range "
                "predicates on BOTH columns via parquet min/max file "
                "skipping — the 2-dim generalization of the clustered "
                "snapshot's single sort column. Pure unrolled bit "
                "arithmetic (16-bit z-value + top-byte bucket), "
                "bit-identical across engines; locality (bounded "
                "per-bucket dimension spans) is property-tested",
)
def zorder_interleave_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "props")
    u8 = F.col("user_id").bitwiseAND(255)
    k8 = F.get_json_object("props", "$.k").cast("bigint").bitwiseAND(255)
    d = ev.select("event_id", u8.alias("u8"), k8.alias("k8"))
    zval = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        zval = zval + F.shiftleft(F.shiftright("u8", i).bitwiseAND(1), 2 * i)
        zval = zval + F.shiftleft(F.shiftright("k8", i).bitwiseAND(1), 2 * i + 1)
    return d.select(
        "event_id", "u8", "k8",
        zval.alias("zval"),
        F.shiftright(zval, 8).cast("bigint").alias("zbucket"),
    )


@register(
    "metadata_agg_orders",
    oracle="""
        SELECT 'cnt_total' AS metric,
               CAST(COUNT(*) AS BIGINT) AS value FROM orders
        UNION ALL
        SELECT 'cnt_aligned', CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey BETWEEN 0 AND 4999
        UNION ALL
        SELECT 'cnt_straddle', CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey BETWEEN 2500 AND 7499
        UNION ALL
        SELECT 'cnt_open', CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey >= 5000
        UNION ALL
        SELECT 'sum_aligned', CAST(SUM(o_orderkey) AS BIGINT) FROM orders
        WHERE o_orderkey BETWEEN 0 AND 4999
        UNION ALL
        SELECT 'min_key', CAST(MIN(o_orderkey) AS BIGINT) FROM orders
        UNION ALL
        SELECT 'max_key', CAST(MAX(o_orderkey) AS BIGINT) FROM orders
    """,
    tags=("maintenance", "aggregate"),
    description="the metadata-aggregate layer end-to-end as an oracled "
                "query: orders is published as a 3-slice stats-carrying "
                "append chain (sources/versioned.py), then COUNT (total, "
                "dir-aligned, straddling, open-ended), SUM, and MIN/MAX "
                "over o_orderkey are answered via count_version / "
                "sum_version / minmax_version — the Iceberg/Delta-style "
                "manifest aggregates — and checked against DuckDB "
                "computing the same numbers straight from the parquet. "
                "Whatever each range resolves to at a given SF "
                "(manifest-only or boundary-dir scan), the values must "
                "equal the brute-force answers",
)
def metadata_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the aggregates this query checks are the O(1)
    monitoring path a 100 TB ingest runs hourly — unbounded counts are
    one manifest JSON, dir-aligned ranges add nothing, and only
    boundary-straddling dirs ever scan (SCALE.md 'COUNTs are answered
    from the manifest'). The chain build here is the fixture-sized
    harness for that contract; the output rows are plain BIGINTs so
    the oracle comparison is exact.

    Reference anchor: the reference's final Reduce writes per-file
    aggregate counts (asio_deep/main.cpp:434-516); this is the same
    aggregate contract answered from table metadata instead of a scan.

    Timing caveat (the dedup_clusters / bpe_train_merges shape): the
    chain publish and the aggregates run at BUILD time — driver-
    orchestrated by design, since metadata aggregates return ints, not
    plans — so sweep/bench timings of the returned DataFrame measure
    only the 7 literal rows. The real cost lives in the builder
    (~3 write_versions + the boundary-dir scans, ~7 s cold at sf0.1).
    """
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        minmax_version,
        sum_version,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    td = tempfile.mkdtemp(prefix="mr4s_metadata_agg_")
    try:
        tdir = f"{td}/orders_chain"
        for lo, hi in ((0, 5000), (5000, 10000), (10000, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            write_version(part.coalesce(2), tdir, append=True,
                          stats_for=["o_orderkey"] if lo == 0 else None)
        rows = [
            ("cnt_total", count_version(spark, tdir)),
            ("cnt_aligned", count_version(spark, tdir, "o_orderkey",
                                          lower=0, upper=4999)),
            ("cnt_straddle", count_version(spark, tdir, "o_orderkey",
                                           lower=2500, upper=7499)),
            ("cnt_open", count_version(spark, tdir, "o_orderkey",
                                       lower=5000)),
            ("sum_aligned", sum_version(spark, tdir, "o_orderkey",
                                        lower=0, upper=4999)),
        ]
        mn, mx = minmax_version(spark, tdir, "o_orderkey")
        rows += [("min_key", mn), ("max_key", mx)]
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(rows, "metric string, value bigint")


@register(
    "evolved_chain_agg_orders",
    oracle="""
        WITH d AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey >= 5000
                        THEN o_orderkey % 97 END AS added
            FROM orders
        )
        SELECT 'cnt_total' AS metric,
               CAST(COUNT(*) AS BIGINT) AS value FROM d
        UNION ALL
        SELECT 'cnt_asof_v1', CAST(COUNT(*) AS BIGINT) FROM d
        WHERE o_orderkey < 5000
        UNION ALL
        SELECT 'cnt_added', CAST(COUNT(added) AS BIGINT) FROM d
        UNION ALL
        SELECT 'null_added', CAST(COUNT(*) - COUNT(added) AS BIGINT) FROM d
        UNION ALL
        SELECT 'sum_added', CAST(SUM(added) AS BIGINT) FROM d
        UNION ALL
        SELECT 'avg_added_x100',
               CAST((100 * SUM(added)) // COUNT(added) AS BIGINT) FROM d
    """,
    tags=("maintenance", "aggregate", "evolution"),
    description="additive schema evolution + the round-11 metadata "
                "aggregates end-to-end as an oracled query: orders is "
                "published as an append chain whose SECOND append adds a "
                "new BIGINT column (added = o_orderkey % 97, only for "
                "keys >= 5000), so pre-evolution rows read as typed "
                "nulls. COUNT(*), timestamp-AS-OF COUNT at the "
                "pre-evolution commit, non-null COUNT(added), the padded "
                "read's null count, SUM(added), and AVG(added) (scaled "
                "x100 into exact integer arithmetic) are answered via "
                "count_version/avg_version/sum_version + version_at and "
                "checked against DuckDB computing the same numbers from "
                "the raw parquet. The count/sum/avg arms additionally "
                "ASSERT the metadata-only path (spark=None) — the "
                "evolution backfill must keep old dirs provable, never "
                "scanned",
)
def evolved_chain_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: 'add a nullable column' on a 100 TB append chain
    must cost O(new batch), not a table rewrite — this query pins that
    contract: the evolved chain's reads null-pad old dirs
    (mergeSchema + manifest conformance), and the metadata aggregates
    stay O(manifest) across the evolution because the backfilled
    all-null stats entries keep pre-evolution dirs provable.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    and the aggregates run at BUILD time, so sweep/bench timings of the
    returned DataFrame measure only the 6 literal rows; the real cost
    is ~2 write_versions + one padded read.

    Reference anchor: generalizes the reference's fixed-schema stage
    artifacts (asio_deep/headers/FileProcessorBase.hpp:17-36) to a
    schema that can grow mid-chain without rewriting history.
    """
    import shutil
    import tempfile
    import time

    from mapreduce_4_spark.sources.versioned import (
        avg_version,
        count_version,
        read_version,
        sum_version,
        version_at,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    td = tempfile.mkdtemp(prefix="mr4s_evolved_agg_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < 5000).coalesce(2),
                      tdir, append=True, stats_for=["o_orderkey"])
        t_v1 = time.time()
        write_version(
            orders.filter(F.col("o_orderkey") >= 5000)
            .withColumn("added", (F.col("o_orderkey") % 97).cast("bigint"))
            .coalesce(2),
            tdir, append=True, stats_for=["o_orderkey", "added"],
        )
        # metadata-only proofs: spark=None raises if any dir would scan
        cnt_added, info = count_version(None, tdir, count_col="added",
                                        detail=True)
        assert info["scanned"] == 0, info
        s = sum_version(None, tdir, "added")
        avg = avg_version(None, tdir, "added")
        # the padded read: pre-evolution rows surface as typed nulls
        null_added = read_version(spark, tdir).filter(
            F.col("added").isNull()).count()
        rows = [
            ("cnt_total", count_version(None, tdir)),
            ("cnt_asof_v1", count_version(
                None, tdir, version=version_at(tdir, t_v1))),
            ("cnt_added", cnt_added),
            ("null_added", null_added),
            ("sum_added", s),
            ("avg_added_x100",
             (100 * s) // cnt_added if (s is not None and cnt_added)
             else None),
        ]
        assert avg is None or abs(avg - s / cnt_added) < 1e-12
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(rows, "metric string, value bigint")


@register(
    "cow_delete_orders_chain",
    oracle=f"""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders),
        live AS (
            SELECT o.* FROM orders o, m
            WHERE o.o_orderkey > m.n // 6
              AND NOT (o.o_orderkey >= m.n // 3
                       AND o.o_orderkey < 2 * m.n // 3)
              AND o.o_orderkey NOT IN (
                  SELECT o_orderkey FROM orders, m
                  WHERE o_orderkey >= 2 * n // 3 AND o_orderkey % 7 = 0
                  ORDER BY o_orderkey LIMIT 5)
        )
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM live GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "cow"),
    description="copy-on-write DELETE end-to-end as an oracled query: "
                "orders is published as a 3-slice stats+bloom append "
                "chain (keyspace thirds), then (1) a range delete "
                "inside slice 0 REWRITES exactly that dir (builder "
                "asserts rewritten=1, untouched=2), (2) a range delete "
                "covering slice 1 exactly DROPS it whole with zero "
                "data movement (asserts dropped=1, rewritten=0), and "
                "(3) a 5-key erasure routed by the per-dir blooms "
                "rewrites only the dir holding those keys (asserts "
                "rewritten=1). The surviving table, read back through "
                "read_version, must equal DuckDB applying the same "
                "three deletes to the raw parquet; count_version "
                "answers the live count from metadata at every step",
)
def cow_delete_orders_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: this is the commit-cost contract of lakehouse
    DELETE — file-level copy-on-write at this format's dir granularity.
    The retention shape (step 2) is pure manifest arithmetic: a month
    of a 100 TB time-ordered chain drops with zero bytes moved; the
    GDPR shape (step 3) rewrites ~the dirs actually holding the
    requested ids because the bloom classifier proves the rest out.
    Nothing here is O(table) except what provably must be read.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    and the three CoW commits run at BUILD time — the returned
    DataFrame is the final snapshot's aggregate, so sweep/bench
    timings measure the read, not the commits (~4 write_versions).

    Reference anchor: the reference mutates per-file aggregate state
    between stages by rewriting stage files whole
    (asio_deep/main.cpp:434-516); this is the same rewrite expressed
    at the minimum provable unit instead of the whole stage tree.
    """
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        delete_version_pruned,
        read_version,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    keyed = [int(r[0]) for r in orders.filter(
        (F.col("o_orderkey") >= b2) & (F.col("o_orderkey") % 7 == 0)
    ).orderBy("o_orderkey").limit(5).collect()]
    td = tempfile.mkdtemp(prefix="mr4s_cow_delete_")
    try:
        tdir = f"{td}/orders_chain"
        for lo, hi in ((0, b1), (b1, b2), (b2, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            write_version(part.coalesce(2), tdir, append=True,
                          stats_for=["o_orderkey"] if lo == 0 else None,
                          bloom_for=["o_orderkey"] if lo == 0 else None)
        # (1) boundary delete: rewrites ONLY slice 0
        _, i1 = delete_version_pruned(
            spark, tdir, where={"o_orderkey": (None, n // 6)}, detail=True)
        assert i1 == {"dropped": 0, "untouched": 2, "rewritten": 1}, i1
        # (2) slice-aligned delete: DROPS slice 1 whole, zero scan
        _, i2 = delete_version_pruned(
            spark, tdir, where={"o_orderkey": (b1, b2 - 1)}, detail=True)
        assert i2 == {"dropped": 1, "untouched": 2, "rewritten": 0}, i2
        # (3) keyed erasure: blooms route it to the one dir holding them
        _, i3 = delete_version_pruned(
            spark, tdir, keys=keyed, key="o_orderkey", detail=True)
        assert i3["rewritten"] == 1 and i3["dropped"] == 0, i3
        live = read_version(spark, tdir)
        out = live.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
            csum("o_totalprice").alias("sum_price"),
        )
        rows = out.collect()
        # the metadata count must agree with the rows just read
        assert count_version(None, tdir) == sum(r["n_orders"] for r in rows)
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, min_key bigint, "
              "sum_price double")


@register(
    "dv_delete_orders_chain",
    oracle=f"""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM orders WHERE o_orderkey % 13 <> 1
        GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "dv"),
    description="deletion-vector (merge-on-read) DELETE end-to-end as "
                "an oracled query: orders is published as a 3-dir chain "
                "sliced by o_orderkey % 3 (every dir spans the "
                "keyspace), then every key with o_orderkey % 13 = 1 is "
                "deleted WITHOUT rewriting any data file — the builder "
                "asserts data_dirs is byte-identical before and after "
                "and that the manifest records the exact per-dir "
                "deleted-row cardinalities. The live table read back "
                "through read_version (one anti-join against the "
                "positional sidecar) must equal DuckDB filtering the "
                "raw parquet, and count_version must answer the live "
                "count from metadata alone (spark=None)",
)
def dv_delete_orders_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the ~8%-of-rows delete this query runs would
    cost a full rewrite of every touched dir under copy-on-write; the
    DV commit costs one scan to LOCATE the rows plus a sidecar write
    sized by the match count — the Iceberg v2 positional-delete /
    Delta deletion-vector trade. The read-side tax is one broadcast
    anti-join while the vector is small (manifest-recorded cardinality
    decides, never an estimate), and compact()/compact_tail() fold the
    debt away — pinned in tests/test_cow_dv.py.

    Timing caveat (the metadata_agg_orders shape): chain publish + DV
    commit run at BUILD time; the timed DataFrame is the live read.

    Reference anchor: the reference can only drop rows by rewriting a
    stage file (asio_deep/main.cpp:216-433); this is the lakehouse
    move that decouples delete cost from file size.
    """
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        delete_version_dv,
        read_manifest,
        read_version,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    td = tempfile.mkdtemp(prefix="mr4s_dv_delete_")
    try:
        tdir = f"{td}/orders_chain"
        for r in range(3):
            write_version(
                orders.filter(F.col("o_orderkey") % 3 == r).coalesce(2),
                tdir, append=True,
                stats_for=["o_orderkey"] if r == 0 else None)
        before = read_manifest(tdir, 3)["data_dirs"]
        doomed = orders.filter(F.col("o_orderkey") % 13 == 1)
        n_doomed = doomed.count()
        v, info = delete_version_dv(
            spark, tdir, keys=doomed.select("o_orderkey"),
            key="o_orderkey", detail=True)
        m = read_manifest(tdir, v)
        # merge-on-read contract: NOTHING was rewritten, the sidecar
        # carries exactly the matched rows, COUNT stays metadata-only
        assert m["data_dirs"] == before, (m["data_dirs"], before)
        assert info == {"deleted": n_doomed, "dv_rows": n_doomed}, info
        assert sum(m["dv"]["dir_counts"].values()) == n_doomed
        live = read_version(spark, tdir)
        out = live.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
            csum("o_totalprice").alias("sum_price"),
        )
        rows = out.collect()
        assert count_version(None, tdir) == sum(r["n_orders"] for r in rows)
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, sum_price double")


@register(
    "cow_update_orders_chain",
    oracle=f"""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders),
        keyed AS (
            SELECT o_orderkey FROM orders, m
            WHERE o_orderkey >= 2 * n // 3 AND o_orderkey % 11 = 0
            ORDER BY o_orderkey LIMIT 5
        ),
        updated AS (
            SELECT o.o_orderkey,
                   CASE WHEN o.o_orderkey IN (SELECT * FROM keyed)
                        THEN 'X' ELSE o.o_orderstatus END AS o_orderstatus,
                   CASE WHEN o.o_orderkey <= m.n // 6
                        THEN o.o_totalprice + 1000 ELSE o.o_totalprice
                   END AS o_totalprice
            FROM orders o, m
        )
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM updated GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "cow"),
    description="copy-on-write UPDATE end-to-end as an oracled query "
                "(the third DML verb beside the CoW delete and merge): "
                "on a 3-slice stats+bloom chain, (1) a range update "
                "(+1000 price below n/6) rewrites ONLY slice 0 "
                "(builder asserts rewritten=1, untouched=2), then "
                "(2) a 5-key status correction routed by the blooms "
                "rewrites only the dir holding those keys. Assignments "
                "evaluate against the OLD row (SQL UPDATE semantics) "
                "and row counts never change (count_version stays "
                "metadata-exact). The final table must equal DuckDB "
                "applying the same CASE updates to the raw parquet",
)
def cow_update_orders_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the targeted-correction shape — fix a price
    column for one era, re-tag a handful of ids — costs O(touched
    dirs) under dir-granular CoW, with the untouched bulk carried by
    reference. Same classification machinery as the CoW delete, so
    the cost model is shared and already measured
    (scripts/cow_dv_probe.py).

    Timing caveat (the metadata_agg_orders shape): the chain publish
    and both UPDATE commits run at BUILD time.

    Reference anchor: the reference's only mutation is rewriting a
    stage file whole (asio_deep/main.cpp:434-516); this rewrites the
    minimum provable unit instead.
    """
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        read_version,
        update_version_pruned,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    keyed = [int(r[0]) for r in orders.filter(
        (F.col("o_orderkey") >= b2) & (F.col("o_orderkey") % 11 == 0)
    ).orderBy("o_orderkey").limit(5).collect()]
    n_rows = orders.count()
    td = tempfile.mkdtemp(prefix="mr4s_cow_update_")
    try:
        tdir = f"{td}/orders_chain"
        for lo, hi in ((0, b1), (b1, b2), (b2, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            write_version(part.coalesce(2), tdir, append=True,
                          stats_for=["o_orderkey"] if lo == 0 else None,
                          bloom_for=["o_orderkey"] if lo == 0 else None)
        _, i1 = update_version_pruned(
            spark, tdir,
            {"o_totalprice": F.col("o_totalprice") + 1000},
            where={"o_orderkey": (None, n // 6)}, detail=True)
        assert i1 == {"untouched": 2, "rewritten": 1}, i1
        _, i2 = update_version_pruned(
            spark, tdir, {"o_orderstatus": "X"},
            keys=keyed, key="o_orderkey", detail=True)
        assert i2["rewritten"] == 1, i2
        assert count_version(None, tdir) == n_rows  # updates move no rows
        rows = (
            read_version(spark, tdir)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
                 csum("o_totalprice").alias("sum_price"))
            .collect()
        )
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, sum_price double")


@register(
    "incremental_mv_cdc_orders",
    oracle=f"""
        WITH final AS (
            -- the table after the CoW merge (+1000 on every 10th key,
            -- 3 inserts) and the DV delete (every 13th-residue-1 key)
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN o_totalprice + 1000 ELSE o_totalprice
                   END AS o_totalprice
            FROM orders WHERE o_orderkey % 13 <> 1
            UNION ALL
            SELECT o_orderkey + 100000000, 'N',
                   CAST(o_orderkey AS DECIMAL(15,2))
            FROM orders WHERE o_orderkey % 101 = 3
        )
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS revenue
        FROM final GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "cdc", "incremental"),
    description="CDC-driven incremental materialized-view maintenance "
                "over the mutation layer: orders is published as a "
                "versioned chain, a per-status (count, revenue) MV is "
                "frozen at v_base, then a copy-on-write MERGE (price "
                "corrections + inserts) and a deletion-vector DELETE "
                "land as real commits. The MV refreshes by consuming "
                "table_changes(v_base, latest) — each I adds its new_ "
                "row, each D retracts its old_ row, each U does both, "
                "via ONE inline array-explode aggregate — and merging "
                "the delta with the frozen integer-cents partials. The "
                "refreshed MV must equal DuckDB recomputing the final "
                "state from raw parquet; the builder also asserts it "
                "equals the direct recompute over the final snapshot",
)
def incremental_mv_cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the refresh consumes the CHANGE SET and the
    frozen MV partials — O(changes + groups), never a rescan of
    history — which is how an hourly-refreshed dashboard rides a
    100 TB table's CoW/DV commits. (Producing the change set here uses
    table_changes' snapshot diff, O(two snapshots); a stored change
    feed replaces that term without touching the refresh plan — the
    CDC feed in streaming/cdc.py is exactly that producer.) Retraction
    arithmetic is exact because the measures aggregate as integer cents.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    and the two mutation commits run at BUILD time.

    Reference anchor: the reference recomputes its final aggregates
    from scratch every run (asio_deep/main.cpp:434-516); this is the
    delta-maintenance alternative a long-lived table wants.
    """
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        merge_version_pruned,
        read_version,
        table_changes,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    td = tempfile.mkdtemp(prefix="mr4s_mv_cdc_")
    try:
        tdir = f"{td}/orders_chain"
        half = n // 2
        for lo, hi in ((0, half), (half, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            write_version(part.coalesce(2), tdir, append=True,
                          stats_for=["o_orderkey"] if lo == 0 else None)
        v_base = 2
        # the frozen MV: integer-cents partials so retraction is exact
        # (long; 100 TB bound ~2e18 cents per status < 2^63)
        mv0 = (
            read_version(spark, tdir, version=v_base)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents("o_totalprice")).alias("rev_cents"))
        )
        # mutation 1: CoW merge — +1000 on every 10th key, 3 inserts
        ups = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000
        ).unionByName(
            orders.filter(F.col("o_orderkey") % 101 == 3).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_orderkey").cast("decimal(15,2)")
                .alias("o_totalprice"),
            )
        )
        merge_version_pruned(spark, tdir, ups, "o_orderkey")
        # mutation 2: DV delete — every key with residue 1 mod 13
        delete_version_dv(
            spark, tdir,
            keys=orders.filter(F.col("o_orderkey") % 13 == 1)
            .select("o_orderkey"),
            key="o_orderkey")
        # the refresh: one pass over the change set, inline explode of
        # (retract old, add new) contributions, then merge with mv0
        ch = table_changes(spark, tdir, "o_orderkey",
                           from_version=v_base)
        old_c = F.when(
            F.col("op").isin("U", "D"),
            F.struct(
                F.col("old_o_orderstatus").alias("o_orderstatus"),
                F.lit(-1).cast("long").alias("dn"),
                (-cents("old_o_totalprice")).alias("drev"),
            ),
        )
        new_c = F.when(
            F.col("op").isin("I", "U"),
            F.struct(
                F.col("new_o_orderstatus").alias("o_orderstatus"),
                F.lit(1).cast("long").alias("dn"),
                cents("new_o_totalprice").alias("drev"),
            ),
        )
        delta = (
            ch.select(F.explode(F.filter(
                F.array(old_c, new_c), lambda x: x.isNotNull()
            )).alias("c"))
            .groupBy(F.col("c.o_orderstatus").alias("o_orderstatus"))
            .agg(F.sum("c.dn").alias("n"),
                 F.sum("c.drev").alias("rev_cents"))
        )
        refreshed = (
            mv0.unionByName(delta)
            .groupBy("o_orderstatus")
            .agg(F.sum("n").alias("n_orders"),
                 F.sum("rev_cents").alias("rev_cents"))
            .filter(F.col("n_orders") > 0)
            .select("o_orderstatus", "n_orders",
                    unscale(F.col("rev_cents"), 2).alias("revenue"))
        )
        rows = refreshed.collect()
        # the incremental path must equal the direct recompute
        direct = {
            (r["o_orderstatus"], r["n_orders"], r["revenue"])
            for r in read_version(spark, tdir)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 csum("o_totalprice").alias("revenue"))
            .collect()
        }
        assert {(r["o_orderstatus"], r["n_orders"], r["revenue"])
                for r in rows} == direct
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, revenue double")


@register(
    "restore_snapshot_orders",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "restore"),
    description="zero-copy RESTORE end-to-end as an oracled query: "
                "orders is published as a 2-dir chain, a copy-on-write "
                "delete then removes the first half (a 'bad publish'), "
                "and restore_version rolls the table back by publishing "
                "a manifest that REFERENCES the original dirs — the "
                "builder asserts no new data dir appeared on disk and "
                "that the rollback is visible as CDC inserts. The "
                "restored table read back through read_version must "
                "equal DuckDB reading the untouched raw parquet",
)
def restore_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: rolling a 100 TB table back from a bad publish
    is one JSON write — the restored manifest points at dirs that
    never moved, vacuum's mark-and-sweep keeps them alive, and the bad
    version stays in history for forensics. The alternative (re-publish
    the old snapshot through write_version) would re-write the table.

    Timing caveat (the metadata_agg_orders shape): chain publish +
    delete + restore run at BUILD time; the timed DataFrame is the
    restored read.

    Reference anchor: the reference's only rollback is re-running the
    job over the original inputs (asio_deep/main.cpp:216-516); version
    manifests make undo O(1) instead.
    """
    import os
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        delete_version_pruned,
        read_version,
        restore_version,
        table_changes,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    td = tempfile.mkdtemp(prefix="mr4s_restore_")
    try:
        tdir = f"{td}/orders_chain"
        half = n // 2
        for lo, hi in ((0, half), (half, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            write_version(part.coalesce(2), tdir, append=True,
                          stats_for=["o_orderkey"] if lo == 0 else None)
        delete_version_pruned(spark, tdir,
                              where={"o_orderkey": (None, half - 1)})
        n_dirs = len([d for d in os.listdir(tdir) if d.startswith("v=")])
        rv = restore_version(tdir, 2)  # pure manifest arithmetic
        assert len([d for d in os.listdir(tdir)
                    if d.startswith("v=")]) == n_dirs, "restore moved data"
        # the rollback is CDC-visible: the deleted half comes back as I
        ch = table_changes(spark, tdir, "o_orderkey",
                           from_version=3, to_version=rv)
        assert ch.filter(F.col("op") != "I").count() == 0
        live = read_version(spark, tdir)
        rows = live.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        ).collect()
        assert count_version(None, tdir) == sum(r["n_orders"] for r in rows)
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, min_key bigint, "
              "max_key bigint")


@register(
    "bloom_point_lookup_orders",
    oracle="""
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 1
            ORDER BY o_orderkey LIMIT 5)
    """,
    tags=("maintenance", "filter", "bloom"),
    description="bloom-filter directory skipping end-to-end as an "
                "oracled query: orders is published as a 3-dir chain "
                "sliced by o_orderkey % 3 — every dir's [min, max] "
                "spans the whole keyspace, so min/max stats can prune "
                "NOTHING — with per-dir bloom filters (2^20 bits) over "
                "o_orderkey. A 5-key point lookup (the smallest keys "
                "with residue 1, plus one absent key) is served by "
                "read_version_bloom_pruned, which must provably skip "
                "at least one dir (asserted in the builder) and return "
                "exactly the rows DuckDB finds with the same IN filter "
                "on the raw parquet",
)
def bloom_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: id-keyed point lookups on arrival-ordered
    append chains are the query min/max stats cannot help (every dir
    spans the keyspace); per-dir blooms bound the touched dirs by the
    keys' actual locations plus a fill^k false-positive tail — at
    100 TB, a K-id fetch over a 10^3-dir chain touches ~the dirs
    holding those ids instead of all of them. Build cost is bounded
    bitmap aggregates observed on each append's own write job (never
    row-count-sized collects, no extra Spark job); the probe hashes
    with the same xxhash64 positions the writer used, so membership
    can never drift.

    Reference anchor: the reference addresses per-file aggregate state
    by exact path key (asio_deep/main.cpp:434-516); this generalizes
    exact-key addressing to content-addressed dir skipping.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    runs at BUILD time; the timed DataFrame is the pruned scan over
    (usually) one dir."""
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    probes = [int(r["o_orderkey"]) for r in
              orders.filter(F.col("o_orderkey") % 3 == 1)
              .orderBy("o_orderkey").limit(5).collect()]
    td = tempfile.mkdtemp(prefix="mr4s_bloom_lookup_")
    try:
        tdir = f"{td}/orders_chain"
        for r in range(3):
            write_version(
                orders.filter(F.col("o_orderkey") % 3 == r).coalesce(2),
                tdir, append=True,
                bloom_for=["o_orderkey"] if r == 0 else None,
                bloom_bits=1 << 20,
            )
        df, info = read_version_bloom_pruned(
            spark, tdir, "o_orderkey", probes + [-7], detail=True)
        # the unsorted-chain skip must actually happen (false positives
        # could erode it; at this fill the probability is ~1e-5)
        assert info["missed"] >= 1, info
        rows = df.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint")


@register(
    "clustered_chain_fold_orders",
    oracle=f"""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n,
                          MAX(o_custkey) AS cmax
                   FROM orders),
        live AS (
            SELECT o.* FROM orders o, m
            WHERE NOT (o.o_orderkey >= m.n // 2
                       AND o.o_orderkey < m.n // 2 + m.n // 10)
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM live, m
        WHERE o_custkey BETWEEN m.cmax // 4 AND m.cmax // 2
          AND o_orderkey BETWEEN m.n // 4 AND 9 * m.n // 10
        GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "cluster", "cow"),
    description="the round-12 clustered-chain lifecycle end-to-end as "
                "an oracled query: orders publishes as a Z-ordered "
                "base on (o_custkey, o_orderkey), takes two trickle "
                "appends (allowed since round 12 — the discipline "
                "stays RECORDED on the chain while appended dirs land "
                "unclustered), a dir-granular CoW range delete "
                "rewrites only the covering dir with the discipline "
                "surviving the commit, and compact_tail's "
                "layout-preserving fold re-applies the recorded "
                "Z-order to the folded dir. The builder asserts the "
                "manifest discipline at every step and the final "
                "2-dir chain; the final snapshot's 2-D box aggregate "
                "must match DuckDB applying the same delete to raw "
                "parquet",
)
def clustered_chain_fold_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Scale rationale: this is OPTIMIZE-ZORDER-as-a-lifecycle, not a
    one-shot write. A 100 TB table clustered once must stay useful
    under trickle appends and targeted deletes: mutation cost is
    O(touched dirs) (CoW), layout decay is bounded to the unfolded
    tail, and the tail fold — O(trickle), never O(table) — restores
    per-file 2-D locality so footer/dir skipping keeps paying on both
    dims. The whole-table `table cluster` rewrite becomes an
    occasional off-peak move instead of the only repair.

    Timing caveat (the metadata_agg_orders shape): the publishes, the
    CoW commit, and the fold run at BUILD time; timings measure the
    final boxed read.

    Reference anchor: the reference re-establishes per-stage file
    layout by rewriting stage trees whole (asio_deep/main.cpp:434-516);
    here the re-establishment unit is the folded tail dir."""
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        compact_tail,
        delete_version_pruned,
        read_manifest,
        read_version,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    row = orders.agg(F.max("o_orderkey"), F.max("o_custkey")).first()
    n, cmax = int(row[0]) + 1, int(row[1])
    b = n // 2
    td = tempfile.mkdtemp(prefix="mr4s_clustered_chain_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < b), tdir,
                      zorder_by=["o_custkey", "o_orderkey"], n_files=8,
                      stats_for=["o_orderkey"])
        for lo, hi in ((b, 3 * n // 4), (3 * n // 4, n)):
            write_version(
                orders.filter((F.col("o_orderkey") >= lo)
                              & (F.col("o_orderkey") < hi)).coalesce(1),
                tdir, append=True)
        m = read_manifest(tdir, 3)
        assert m["zorder_by"] == ["o_custkey", "o_orderkey"], m
        # dir-granular delete inside the first append's range: only
        # that dir rewrites; the recorded discipline survives
        _, info = delete_version_pruned(
            spark, tdir,
            where={"o_orderkey": (b, b + n // 10 - 1)}, detail=True)
        assert info["rewritten"] == 1 and info["untouched"] == 2, info
        m = read_manifest(tdir, 4)
        assert m["zorder_by"] == ["o_custkey", "o_orderkey"], m
        # layout-preserving fold: the tail (append + CoW dirs) folds
        # into ONE re-clustered dir
        v = compact_tail(spark, tdir, keep_base=1, target_files=4)
        m = read_manifest(tdir, v)
        assert m["zorder_by"] == ["o_custkey", "o_orderkey"], m
        assert len(m["data_dirs"]) == 2, m["data_dirs"]
        boxed = read_version(spark, tdir).filter(
            (F.col("o_custkey") >= cmax // 4)
            & (F.col("o_custkey") <= cmax // 2)
            & (F.col("o_orderkey") >= n // 4)
            & (F.col("o_orderkey") <= 9 * n // 10))
        out = (
            boxed.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_orderkey").alias("min_key"),
                 # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
                 csum("o_totalprice").alias("sum_price"))
            .select("o_orderstatus", "n_orders", "min_key", "sum_price")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, min_key bigint, "
              "sum_price double")


@register(
    "wide_delete_orders_chain",
    oracle=f"""
        WITH live AS (
            SELECT * FROM orders
            WHERE NOT (o_orderkey % 4 = 1 AND o_orderkey % 13 = 0)
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM live GROUP BY o_orderstatus
    """,
    tags=("maintenance", "lakehouse", "cow"),
    description="the join-classified WIDE delete end-to-end as an "
                "oracled query (round 12): orders publishes as a "
                "4-dir residue chain (every dir's o_orderkey window "
                "spans the keyspace — the manifest classifier would "
                "conservatively rewrite all four), then "
                "delete_version_joined removes a key DataFrame "
                "(o_orderkey % 4 = 1 and % 13 = 0 — hundreds of keys, "
                "never collected to the driver) whose one-scan "
                "LeftSemi classification proves only the residue-1 "
                "dir holds them (builder asserts rewritten=1, "
                "untouched=3); the surviving table must match DuckDB "
                "applying the same predicate delete",
)
def wide_delete_orders_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the GDPR shape past the broadcast budget. The
    manifest classifier (windows + blooms) is zero-scan but holds the
    key set on the driver (max_keys-capped, loud); this path keeps
    the keys distributed end-to-end — ONE classification scan
    (LeftSemi, exact, no bloom false positives) + LeftAnti survivors
    over only the dirs proven to hold keys — so a 10^8-id erasure on
    a 100 TB chain costs a read pass plus the touched dirs, never the
    O(table) WRITE of a full rewrite.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    and the joined commit run at BUILD time; timings measure the
    final read.

    Reference anchor: the reference's shuffle stage re-partitions the
    full dataset to relocate affected keys (asio_deep/main.cpp:
    327-433); here the classification pass reads but only provably
    affected units rewrite."""
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import (
        delete_version_joined,
        read_version,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    td = tempfile.mkdtemp(prefix="mr4s_wide_delete_")
    try:
        tdir = f"{td}/orders_chain"
        for r in range(4):
            write_version(
                orders.filter(F.col("o_orderkey") % 4 == r).coalesce(1),
                tdir, append=True,
                stats_for=["o_orderkey"] if r == 0 else None)
        keys = orders.filter(
            (F.col("o_orderkey") % 4 == 1)
            & (F.col("o_orderkey") % 13 == 0)).select("o_orderkey")
        _, info = delete_version_joined(
            spark, tdir, keys, "o_orderkey", detail=True)
        assert info["rewritten"] == 1 and info["untouched"] == 3, info
        live = read_version(spark, tdir)
        out = (
            live.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_orderkey").alias("min_key"),
                 # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
                 csum("o_totalprice").alias("sum_price"))
            .select("o_orderstatus", "n_orders", "min_key", "sum_price")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, min_key bigint, "
              "sum_price double")
