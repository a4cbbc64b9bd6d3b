"""Spark-4 SQL-surface queries: recursive CTE reachability, a custom
Python DataSource scan, and a SQL-macro UDF — three extension surfaces
the engine exposes beyond the classic DataFrame API.

- ``order_streaks_recursive`` runs a genuine ``WITH RECURSIVE`` chain
  closure INSIDE Spark (4.x recursive CTE execution) and is oracled by
  the *same SQL text* in DuckDB — the strongest possible cross-engine
  pin for the iterative-plan path.
- ``python_datasource_rows`` scans the custom Python DataSource
  (sources/pyds.py) — the idiomatic replacement for the reference's
  dlopen'd input plugin (asio_deep/main.cpp:219-226) — and is oracled by
  DuckDB ``range()`` + md5.
- ``sql_udf_wordcount`` registers a SQL-macro function (CREATE
  TEMPORARY FUNCTION ... RETURN expr) carrying the reference's O3 clean
  expression and runs the flagship word count through it, extending the
  O11 plugin-surface family (row UDF / pandas_udf / applyInPandas /
  UDAF / UDTF) with the declarative sixth mechanism — unlike the five
  imperative ones, a SQL macro inlines into the plan and stays fully
  inside WholeStageCodegen (no serialization boundary at all).

Reference anchor: SURVEY.md §2.1 O11 (plugin/UDF surface,
asio_deep/main.cpp:98-149) and §3.3 (the spark.sql entry path).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from mapreduce_4_spark.functions.text import CLEAN_CLASS
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table

#: The recursive closure + final rollup, shared verbatim with the
#: oracle (the prefix views are materialized separately on the Spark
#: side — see the builder).
_CHAIN_SQL = """
WITH RECURSIVE roots AS (
    SELECT o.o_custkey AS ck, o.rn
    FROM {ord} o LEFT JOIN {edges} e
      ON o.o_custkey = e.ck AND o.rn = e.rn_next
    WHERE e.rn_next IS NULL
),
chain(ck, root_rn, rn) AS (
    SELECT ck, rn, rn FROM roots
    UNION ALL
    SELECT c.ck, c.root_rn, e.rn_next
    FROM chain c JOIN {edges} e
      ON c.ck = e.ck AND c.rn = e.rn_prev
)
SELECT c.ck AS o_custkey,
       r.o_orderkey AS root_orderkey,
       CAST(COUNT(*) AS BIGINT) AS streak_len,
       MIN(o.o_orderdate) AS first_date,
       MAX(o.o_orderdate) AS last_date
FROM chain c
JOIN {ord} o ON c.ck = o.o_custkey AND c.rn = o.rn
JOIN {ord} r ON c.ck = r.o_custkey AND c.root_rn = r.rn
GROUP BY c.ck, r.o_orderkey
"""

_ORD_SQL = """
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS rn
    FROM {tbl}
"""

_EDGES_SQL = """
    SELECT a.o_custkey AS ck, a.rn AS rn_prev, b.rn AS rn_next
    FROM {ord} a JOIN {ord} b
      ON a.o_custkey = b.o_custkey AND b.rn = a.rn + 1
    WHERE b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
"""


@register(
    "order_streaks_recursive",
    oracle=(
        # Same three building blocks; DuckDB takes them as sibling CTEs
        # under one WITH RECURSIVE, so the closure text is byte-identical
        # to what Spark executes.
        "WITH RECURSIVE ord AS (" + _ORD_SQL.format(tbl="orders") + "),\n"
        "edges AS (" + _EDGES_SQL.format(ord="ord") + ")"
        + _CHAIN_SQL.format(ord="ord", edges="edges").replace(
            "WITH RECURSIVE roots AS", ", roots AS", 1
        )
    ),
    tags=("sql", "recursive", "graph", "window"),
    description="order streaks via WITH RECURSIVE chain closure, "
                "executed natively by Spark's recursive-CTE path with "
                "the closure SQL shared verbatim with the DuckDB "
                "oracle: maximal runs of a customer's orders each "
                "within 30 days of the previous — per streak: root "
                "order, length, first/last date. The non-recursive "
                "prefix (row_number + edge list) is materialized once "
                "(persisted, bounded per-app cache shared across "
                "sibling sessions via global temp views, released by "
                "clear_rcte_cache) so the ~6 closure "
                "iterations join a 3-column edge table instead of "
                "recomputing the window per iteration; unbounded-depth "
                "reachability routes to the pointer-jumping operator",
)
def order_streaks_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    orders.createOrReplaceTempView("orders_rcte_v")
    # Explicit bounded cache (partsupp-cache discipline, incl. dead-app
    # pruning): repeated builder calls reuse ONE (app, sf_dir) entry;
    # the recursion and the three final-join consumers read the
    # materialized 4-column table, not the window. clear_rcte_cache()
    # releases both persisted tables — the hook a long-lived process
    # (the 204-query sweep, a notebook) calls when the streak family is
    # done; growth across a sweep is asserted in
    # tests/test_spark4_surface.py.
    # The entry is APP-scoped, not session-scoped: the prefix views are
    # GLOBAL temp views (global_temp database — visible to every
    # spark.newSession() sibling), so sibling sessions share one
    # persisted prefix instead of each materializing its own. That is
    # also the only sound scoping: sibling sessions share one JVM
    # CacheManager, which dedupes identical persisted plans — so
    # per-session entries ALIAS one cache slot and unpersisting a dead
    # sibling's entry would evict a live session's data (measured: the
    # r9 advice's weakref-prune design did exactly that). App-scoping
    # removes the session-churn leak by construction — a
    # newSession()-per-query app touches the same single entry forever.
    app_id = spark.sparkContext.applicationId
    for k, (tag, *jdfs) in list(_RCTE_CACHE.items()):
        if k[0] == app_id:
            continue
        del _RCTE_CACHE[k]  # dead app: its JVM state is already gone
        for jdf in jdfs:
            try:
                jdf.unpersist()
            except Exception:
                pass
    key = (app_id, sf_dir)
    if key not in _RCTE_CACHE:
        # one view name per sf_dir so two scale factors never collide
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        ord_df = spark.sql(_ORD_SQL.format(tbl="orders_rcte_v")).persist()
        ord_df.createOrReplaceGlobalTempView(f"ord_rcte_{tag}")
        edges = spark.sql(
            _EDGES_SQL.format(ord=f"global_temp.ord_rcte_{tag}")
        ).persist()
        edges.createOrReplaceGlobalTempView(f"edges_rcte_{tag}")
        _RCTE_CACHE[key] = (tag, ord_df._jdf, edges._jdf)
    tag = _RCTE_CACHE[key][0]
    return spark.sql(_CHAIN_SQL.format(
        ord=f"global_temp.ord_rcte_{tag}",
        edges=f"global_temp.edges_rcte_{tag}",
    ))


#: (applicationId, sf_dir) -> (global-temp-view tag, persisted
#: ord-prefix JVM Dataset, persisted edge-list JVM Dataset). JVM
#: handles rather than Python DataFrames so an entry never pins a
#: Python SparkSession object (sessions come and go; the entry is
#: app-scoped — see the builder comment).
_RCTE_CACHE: dict[tuple[str, str], tuple[str, object, object]] = {}


def clear_rcte_cache() -> None:
    """Unpersist and drop every cached recursive-CTE prefix (including
    its global temp views, best-effort — a dead app's views are already
    gone)."""
    for tag, *jdfs in _RCTE_CACHE.values():
        for jdf in jdfs:
            try:
                jdf.sparkSession().catalog().dropGlobalTempView(
                    f"ord_rcte_{tag}")
                jdf.sparkSession().catalog().dropGlobalTempView(
                    f"edges_rcte_{tag}")
            except Exception:
                pass
            try:
                jdf.unpersist()
            except Exception:
                pass
    _RCTE_CACHE.clear()


_PYDS_N = 20_000
_PYDS_PARTS = 8


@register(
    "python_datasource_rows",
    oracle=f"""
        SELECT CAST(range % 32 AS INT) AS bucket,
               COUNT(*) AS n_rows,
               MIN(range) AS min_id,
               MAX(range) AS max_id,
               MIN(md5(CAST(range AS VARCHAR))) AS min_payload
        FROM range({_PYDS_N})
        GROUP BY 1
    """,
    tags=("source", "udf", "python-datasource"),
    description=f"custom Python DataSource scan (Spark 4 DataSource "
                f"API): {_PYDS_N} deterministic rows generated across "
                f"{_PYDS_PARTS} planned input partitions (the "
                "dlopen'd-input-plugin surface of the reference, "
                "re-expressed as a registered Python class with "
                "driver-side partition planning + executor-side row "
                "generation), aggregated per bucket and oracled by "
                "DuckDB range()+md5",
)
def python_datasource_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.pyds import register_synth_source

    register_synth_source(spark)
    rows = (
        spark.read.format("synthrows")
        .option("n", _PYDS_N).option("parts", _PYDS_PARTS).load()
    )
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.min("payload").alias("min_payload"),
    )


#: The SQL-macro clean function: the reference's O3 lowerRemovePunc as a
#: declarative CREATE FUNCTION body (same CLEAN_CLASS regex the engine
#: and every oracle share).
#: Spark SQL string literals are backslash-escaped (unlike DuckDB's
#: standard-SQL literals), so the regex's backslashes must be doubled
#: for the DDL text to deliver the same pattern to the regex engine.
_SQL_UDF_DDL = (
    "CREATE OR REPLACE TEMPORARY FUNCTION ref_clean(s STRING) "
    "RETURNS STRING RETURN lower(regexp_replace(s, "
    f"'{CLEAN_CLASS.replace(chr(92), chr(92) * 2)}', ''))"
)


@register(
    "sql_udf_wordcount",
    oracle=f"""
        WITH w AS (
            SELECT unnest(string_split(
                lower(regexp_replace(text, '{CLEAN_CLASS}', '', 'g')),
                ' ')) AS word
            FROM documents
        )
        SELECT word, COUNT(*) AS cnt
        FROM w WHERE len(word) > 0
        GROUP BY word
        ORDER BY cnt DESC, word
        LIMIT 20
    """,
    tags=("udf", "sql", "text", "topk"),
    description="the flagship word count through a SQL-macro UDF "
                "(CREATE TEMPORARY FUNCTION ... RETURN expr) carrying "
                "the reference O3 clean expression — the sixth O11 "
                "plugin mechanism, and the only one that inlines into "
                "the plan with zero serialization boundary (the macro "
                "body compiles into WholeStageCodegen like a built-in)",
)
def sql_udf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    docs.createOrReplaceTempView("docs_sqludf_v")
    spark.sql(_SQL_UDF_DDL)
    # The macro is applied in its own projection: Spark disallows a SQL
    # UDF directly inside a Generate (explode), so clean first, then
    # tokenize the cleaned column — same plan after collapse.
    return spark.sql("""
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT explode(split(cleaned, ' ')) AS word
            FROM (SELECT ref_clean(text) AS cleaned FROM docs_sqludf_v)
        )
        WHERE length(word) > 0
        GROUP BY word
        ORDER BY cnt DESC, word
        LIMIT 20
    """)


@register(
    "versioned_datasource_orders",
    requires=("mr4ver-read",),
    oracle="""
        WITH d AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey >= 5000
                        THEN o_orderkey % 97 END AS added
            FROM orders
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(COUNT(added) AS BIGINT) AS n_added,
               CAST((SELECT COUNT(*) FROM d WHERE o_orderkey < 5000)
                    AS BIGINT) AS n_v1
        FROM d
        GROUP BY o_orderstatus
    """,
    tags=("source", "python-datasource", "maintenance", "evolution"),
    description="the versioned table format read through its Spark "
                "DataSource front door (spark.read.format('mr4ver')): "
                "orders is published as a 2-append chain whose second "
                "append evolves the schema (added = o_orderkey % 97 for "
                "keys >= 5000), then read back BOTH as the latest "
                "snapshot (pre-evolution rows null-padded by the "
                "reader's Arrow conformance) and as version 1 via the "
                "option('version', 1) time-travel knob, aggregated per "
                "order status and oracled by DuckDB on the raw parquet. "
                "Partition planning is manifest-driven: one input "
                "partition per parquet file per chain dir "
                "(plan-asserted in tests/test_pyds_versioned.py)",
)
def versioned_datasource_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the front door costs what the manifest says —
    partition planning is O(files) driver-side with zero read-path
    listings, and each file is one independent executor read (Arrow
    batches). The JVM `read_version` path stays the throughput choice;
    this query pins that the two front doors agree bit-for-bit on the
    same chain, evolution included.

    Reference anchor: the reference's input operator is a dlopen'd
    plugin behind a fixed factory ABI (asio_deep/main.cpp:98-149,
    219-226); `mr4ver` is that extension surface as Spark 4's
    DataSource API over this repo's own table format.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    runs at BUILD time; sweep/bench timings measure the two DataSource
    scans + the aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    td = tempfile.mkdtemp(prefix="mr4s_ds_versioned_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < 5000).coalesce(2),
                      tdir, append=True)
        write_version(
            orders.filter(F.col("o_orderkey") >= 5000)
            .withColumn("added", (F.col("o_orderkey") % 97).cast("bigint"))
            .coalesce(2),
            tdir, append=True,
        )
        register_versioned_source(spark)
        latest = spark.read.format("mr4ver").load(tdir)
        v1 = spark.read.format("mr4ver").option("version", "1").load(tdir)
        # the DataFrames are consumed before the temp dir is removed
        out = (
            latest.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("sum_key"),
                 F.count("added").alias("n_added"))
            .crossJoin(
                v1.agg(F.count(F.lit(1)).alias("n_v1")))
            .select("o_orderstatus", "n_rows", "sum_key", "n_added", "n_v1")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_rows bigint, sum_key bigint, "
              "n_added bigint, n_v1 bigint")


@register(
    "versioned_pushdown_orders",
    requires=("mr4ver-read",),
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 2500
        GROUP BY o_orderstatus
    """,
    tags=("source", "python-datasource", "maintenance", "pushdown"),
    description="range-predicate pushdown through the mr4ver "
                "DataSource front door (r11 verdict ask #2): orders is "
                "published as a 4-append chain range-split on "
                "o_orderkey with stats_for, then a bounded slice is "
                "read via option('where', 'o_orderkey:1000:2500') — "
                "partitions() provably excludes the dirs whose "
                "[min, max] window misses the range (planning-time, "
                "file enumeration skipped; partition-count asserted in "
                "tests/test_pyds_versioned.py) and read() applies the "
                "exact closed-range residual, so the format front "
                "door prunes like read_version_stats_pruned",
)
def versioned_pushdown_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: pruning state rides the LOAD OPTIONS (relation
    identity), so the JVM's per-relation readInfo cache can never
    serve a pruned plan to an unpruned query — the measured Spark
    4.1.2 aliasing hazard the pushFilters opt-in documents
    (sources/pyds.py). A retention-window read on a 100 TB chain
    plans only the boundary dirs' files.

    Timing caveat (the metadata_agg_orders shape): the chain publish
    runs at BUILD time; timings measure the pruned scan + aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.functions.money import csum
    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    td = tempfile.mkdtemp(prefix="mr4s_pushdown_")
    try:
        tdir = f"{td}/orders_chain"
        step = (int(hi) // 4) + 1
        for lo in range(0, int(hi) + 1, step):
            write_version(
                orders.filter((F.col("o_orderkey") >= lo)
                              & (F.col("o_orderkey") < lo + step))
                .coalesce(1),
                tdir, append=True, stats_for=["o_orderkey"])
        register_versioned_source(spark)
        sliced = (
            spark.read.format("mr4ver")
            .option("where", "o_orderkey:1000:2500").load(tdir)
        )
        out = (
            sliced.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"),
                 # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
                 csum("o_totalprice").alias("sum_price"))
            .select("o_orderstatus", "n_rows", "min_key", "max_key",
                    "sum_price")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_rows bigint, min_key bigint, "
              "max_key bigint, sum_price double")


@register(
    "versioned_bloom_lookup_datasource",
    requires=("mr4ver-read",),
    oracle="""
        WITH probe AS (
            SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3
        )
        SELECT o.o_orderkey, o.o_orderstatus,
               CAST(o.o_totalprice AS DOUBLE) AS price
        FROM orders o JOIN probe p ON o.o_orderkey = p.o_orderkey
        ORDER BY o.o_orderkey
    """,
    tags=("source", "python-datasource", "maintenance", "pushdown"),
    description="bloom point lookup through the mr4ver DataSource "
                "front door (r11 verdict ask #2's bloom variant): "
                "orders is published as a 4-dir residue-class chain "
                "(every dir's o_orderkey [min, max] spans the keyspace "
                "— window stats provably CANNOT skip) with "
                "bloom_for=['o_orderkey'], then the 3 smallest keys "
                "are fetched via option('probe', 'o_orderkey:k1,k2,"
                "k3'): planning probes each dir's recorded bloom with "
                "the JVM-parity-pinned pure-Python xxhash64 twin "
                "(sources/xxh64.py — no SparkSession exists in the "
                "planning worker) and only bloom-hit dirs become "
                "input partitions",
)
def versioned_bloom_lookup_datasource(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Scale rationale: the bloom-pruned point lookup is the GDPR /
    audit shape — on an unsorted 100 TB chain the window stats prune
    nothing (every dir spans the keyspace) while each dir's 16 KiB
    bloom prunes to ~the dirs actually holding the probed ids, decided
    entirely at planning time from the manifest."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    keys = [r[0] for r in
            orders.select("o_orderkey").orderBy("o_orderkey")
            .limit(3).collect()]
    td = tempfile.mkdtemp(prefix="mr4s_bloomlk_")
    try:
        tdir = f"{td}/orders_chain"
        for r in range(4):
            write_version(
                orders.filter(F.col("o_orderkey") % 4 == r).coalesce(1),
                tdir, append=True, stats_for=["o_orderkey"],
                bloom_for=["o_orderkey"])
        register_versioned_source(spark)
        probed = (
            spark.read.format("mr4ver")
            .option("probe",
                    "o_orderkey:" + ",".join(str(k) for k in keys))
            .load(tdir)
        )
        out = probed.select(
            "o_orderkey", "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("price"))
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, price double")


@register(
    "datasource_write_analyze_orders",
    requires=("mr4ver-write",),
    oracle="""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders)
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders, m
        WHERE o_orderkey BETWEEN m.n // 3 + 10 AND m.n // 3 + 2000
        GROUP BY o_orderstatus
    """,
    tags=("source", "python-datasource", "maintenance", "pushdown"),
    description="the mr4ver WRITE front door end-to-end (round 12): "
                "orders lands through df.write.format('mr4ver')"
                ".mode('append') as a 3-slice staged chain (executor "
                "pyarrow writes + CAS manifest commits — the same "
                "commit tail write_version_concurrent uses), "
                "analyze_table backfills the per-dir stats the "
                "Spark-less commit hook cannot collect (metadata-only "
                "commit), and a bounded slice reads back through "
                "read_version_stats_pruned with the builder asserting "
                "the scan touched ONE staged dir; the aggregate must "
                "match DuckDB over raw parquet",
)
def datasource_write_analyze_orders(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Scale rationale: the write path is the table format's own
    protocol spoken through Spark's idiomatic writer API — executors
    stream Arrow into nonce'd staged files (no coordination), commit
    is one manifest CAS (appends re-chain on conflict), COUNT stays
    metadata-exact from the recorded dir_rows, and ANALYZE upgrades
    staged dirs to full skipping citizens for O(dirs missing stats)
    scans, never a table rewrite.

    Timing caveat (the metadata_agg_orders shape): the three format
    writes and the analyze commit run at BUILD time; timings measure
    the pruned read + aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import (
        analyze_table,
        count_version,
        read_version_stats_pruned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    td = tempfile.mkdtemp(prefix="mr4s_ds_write_")
    try:
        tdir = f"{td}/orders_chain"
        register_versioned_source(spark)
        for lo, hi in ((0, b1), (b1, b2), (b2, None)):
            part = orders.filter(F.col("o_orderkey") >= lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") < hi)
            part.coalesce(1).write.format("mr4ver").mode("append") \
                .save(tdir)
        total = orders.count()
        assert count_version(None, tdir) == total  # metadata-exact
        v, info = analyze_table(spark, tdir, stats_for=["o_orderkey"],
                                detail=True)
        assert len(info["analyzed"]) == 3, info
        lo, hi = b1 + 10, b1 + 2000
        sliced = read_version_stats_pruned(
            spark, tdir, "o_orderkey", lower=lo, upper=hi)
        dirs = {f.split("_staged/")[1].split("/")[0]
                for f in sliced.inputFiles() if "_staged/" in f}
        assert len(dirs) == 1, dirs  # the analyze made pruning real
        out = (
            sliced.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"))
            .select("o_orderstatus", "n_rows", "min_key", "max_key")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_rows bigint, min_key bigint, "
              "max_key bigint")


@register(
    "pipe_syntax_lineitem",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_price
        FROM lineitem
        WHERE l_quantity < 10
        GROUP BY l_returnflag
        HAVING COUNT(*) > 10
        ORDER BY l_returnflag
    """,
    tags=("sql", "spark4", "aggregate"),
    description="SQL pipe syntax (Spark 4.0 |> operators): scan -> "
                "WHERE -> AGGREGATE ... GROUP BY -> post-agg WHERE "
                "(HAVING) -> ORDER BY, each stage a |> step — the "
                "linear-dataflow SQL dialect; the oracle is the "
                "equivalent classic ANSI text, so the pin is "
                "cross-DIALECT as well as cross-engine",
)
def pipe_syntax_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: pipe syntax is pure parser surface — the plan
    below is identical to the classic GROUP BY/HAVING plan (partial
    agg before the exchange, one shuffle on l_returnflag), so the
    operator inherits the aggregate family's scale story."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice")
    li.createOrReplaceTempView("li_pipe_v")
    return spark.sql("""
        FROM li_pipe_v
        |> WHERE l_quantity < 10
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS sum_price
           GROUP BY l_returnflag
        |> WHERE n_items > 10
        |> ORDER BY l_returnflag
        |> SELECT l_returnflag, n_items, sum_price
    """)


@register(
    "session_variable_orders",
    oracle="""
        WITH cut AS (
            SELECT MAX(o_orderkey) // 2 AS v FROM orders
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        FROM orders, cut
        WHERE o_orderkey > cut.v
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("sql", "spark4"),
    description="SQL session variables (Spark 4 DECLARE / SET "
                "VARIABLE): a data-derived cutoff is computed once "
                "into a session variable and parameterizes the main "
                "query — the two-step parameterization pattern scripts "
                "use instead of string interpolation; integer "
                "arithmetic end-to-end so the cross-engine pin is "
                "exact",
)
def session_variable_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the variable holds ONE scalar on the driver
    (set by a metadata-cheap MAX aggregate); the main query plans with
    it folded as a literal, so the filter pushes into the scan exactly
    like a hand-written constant."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    orders.createOrReplaceTempView("ord_var_v")
    spark.sql("DECLARE OR REPLACE VARIABLE mr4s_cut BIGINT")
    spark.sql("SET VARIABLE mr4s_cut = "
              "(SELECT MAX(o_orderkey) DIV 2 FROM ord_var_v)")
    return spark.sql("""
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               MIN(o_orderkey) AS min_key
        FROM ord_var_v
        WHERE o_orderkey > mr4s_cut
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


@register(
    "sql_script_threshold_orders",
    oracle="""
        SELECT CAST(t AS DOUBLE) AS threshold,
               CAST(n AS BIGINT) AS n_above
        FROM (
            SELECT POWER(2, g) AS t,
                   (SELECT COUNT(*) FROM orders
                    WHERE o_totalprice > POWER(2, g)) AS n
            FROM generate_series(0, 40) s(g)
        )
        WHERE n < 100
        ORDER BY t
        LIMIT 1
    """,
    tags=("sql", "spark4", "iterative"),
    description="SQL scripting (Spark 4 BEGIN/END + WHILE): a "
                "data-dependent doubling loop finds the smallest "
                "power-of-two price threshold with fewer than 100 "
                "orders above it — control flow running INSIDE Spark's "
                "SQL layer (DECLARE locals, SET from scalar "
                "subqueries, WHILE); the oracle replays the same "
                "search as a generate_series scan, so the loop's "
                "fixed point is cross-engine-pinned",
)
def sql_script_threshold_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Scale rationale: each loop iteration is one COUNT with a
    pushed-down range predicate (metadata-cheap on a stats-carrying
    layout) and the iteration count is log2(max price) <= ~40 — a
    bounded driver-side loop, the same budget class as the unrolled
    fixed-point queries (the 2^K-blowup trap does not apply: state is
    one scalar, not a growing plan)."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    orders.createOrReplaceTempView("ord_script_v")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql("""
        BEGIN
          DECLARE t DOUBLE DEFAULT 1.0;
          -- DECLARE DEFAULT disallows subqueries (INVALID_DEFAULT_VALUE);
          -- seed via SET, the scripting-idiomatic two-step
          DECLARE n BIGINT DEFAULT 0;
          SET n = (SELECT COUNT(*) FROM ord_script_v
                   WHERE o_totalprice > t);
          WHILE n >= 100 DO
            SET t = t * 2;
            SET n = (SELECT COUNT(*) FROM ord_script_v
                     WHERE o_totalprice > t);
          END WHILE;
          SELECT CAST(t AS DOUBLE) AS threshold,
                 CAST(n AS BIGINT) AS n_above;
        END
    """)


@register(
    "cdc_change_feed_orders",
    requires=("mr4ver-read", "mr4ver-cdc"),
    oracle="""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders),
        v1 AS (
            SELECT o_orderkey, o_totalprice FROM orders, m
            WHERE o_orderkey < m.n // 3
        ),
        v2 AS (
            SELECT o_orderkey, o_totalprice FROM orders, m
            WHERE o_orderkey >= m.n // 3 AND o_orderkey < 2 * m.n // 3
        ),
        dk AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3),
        uk AS (SELECT o_orderkey FROM orders
               ORDER BY o_orderkey LIMIT 2 OFFSET 3),
        changes AS (
            SELECT 1 AS cv, 'I' AS op, o_orderkey AS k,
                   CAST(NULL AS DOUBLE) AS old_p, o_totalprice AS new_p
            FROM v1
            UNION ALL
            SELECT 2, 'I', o_orderkey, NULL, o_totalprice FROM v2
            UNION ALL
            SELECT 3, 'D', v1.o_orderkey, v1.o_totalprice, NULL
            FROM v1 JOIN dk ON v1.o_orderkey = dk.o_orderkey
            UNION ALL
            SELECT 4, 'U', v1.o_orderkey, v1.o_totalprice,
                   v1.o_totalprice * 2
            FROM v1 JOIN uk ON v1.o_orderkey = uk.o_orderkey
        )
        SELECT CAST(cv AS BIGINT) AS change_version, op,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(old_p AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_old_price,
               CAST(SUM(CAST(new_p AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_new_price
        FROM changes GROUP BY cv, op
    """,
    tags=("source", "python-datasource", "streaming", "cdc",
          "maintenance"),
    description="the CDC front door end-to-end (round 14): orders is "
                "published as a 2-append chain, 3 keys are DV-deleted "
                "and 2 CoW-updated (price doubled), then readStream"
                ".format('mr4ver').option('readChangeFeed','true') "
                "drains the whole history and the per-(version, op) "
                "I/U/D row counts and key/price sums must match DuckDB "
                "constructing the same change set from raw parquet — "
                "the streamed feed is the module feed's delta-diff "
                "twin (parity test-pinned), here under the driver's "
                "own oracle gate",
)
def cdc_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: each streamed version's change rows are a
    manifest-derived DELTA (added/removed dirs + DV-delta positions
    only, keyed-diffed driver-side) — O(changed rows) per version, the
    Delta CDF asymptotics, vs the module feed's full-snapshot join;
    content-preserving commits ship zero bytes. SCALE.md round 14.

    Timing caveat (the metadata_agg_orders shape): the chain publish +
    mutations run at BUILD time; timings measure the stream drain +
    aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.functions.money import cents, dsum_longs
    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        update_version_pruned,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    low_keys = [r[0] for r in
                orders.select("o_orderkey").orderBy("o_orderkey")
                .limit(5).collect()]
    del_keys, upd_keys = low_keys[:3], low_keys[3:]
    td = tempfile.mkdtemp(prefix="mr4s_cdc_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < b1)
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        write_version(orders.filter((F.col("o_orderkey") >= b1)
                                    & (F.col("o_orderkey") < b2))
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        delete_version_dv(spark, tdir, keys=del_keys, key="o_orderkey")
        update_version_pruned(
            spark, tdir, {"o_totalprice": F.col("o_totalprice") * 2},
            keys=upd_keys, key="o_orderkey")
        register_versioned_source(spark)
        out_dir = f"{td}/changes"
        q = (spark.readStream.format("mr4ver")
             .option("readChangeFeed", "true")
             .option("key", "o_orderkey").load(tdir)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", f"{td}/ck").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        agg = (
            spark.read.parquet(out_dir)
            .groupBy(F.col("_change_version").alias("change_version"),
                     "op")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("sum_key"),
                 # a version's inserts may be a whole-table append
                 dsum_longs(cents("old_o_totalprice"), 2)
                 .alias("sum_old_price"),
                 dsum_longs(cents("new_o_totalprice"), 2)
                 .alias("sum_new_price"))
        )
        rows = agg.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "change_version bigint, op string, n_rows bigint, "
              "sum_key bigint, sum_old_price double, "
              "sum_new_price double")


@register(
    "cdc_batch_window_orders",
    requires=("mr4ver-read", "mr4ver-cdc"),
    oracle="""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders),
        v1 AS (
            SELECT o_orderkey, o_totalprice FROM orders, m
            WHERE o_orderkey < m.n // 3
        ),
        dk AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3),
        uk AS (SELECT o_orderkey FROM orders
               ORDER BY o_orderkey LIMIT 2 OFFSET 3),
        changes AS (
            SELECT 3 AS cv, 'D' AS op, v1.o_orderkey AS k,
                   v1.o_totalprice AS old_p, CAST(NULL AS DOUBLE) AS new_p
            FROM v1 JOIN dk ON v1.o_orderkey = dk.o_orderkey
            UNION ALL
            SELECT 4, 'U', v1.o_orderkey, v1.o_totalprice,
                   v1.o_totalprice * 2
            FROM v1 JOIN uk ON v1.o_orderkey = uk.o_orderkey
        )
        SELECT CAST(cv AS BIGINT) AS change_version, op,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(old_p AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_old_price,
               CAST(SUM(CAST(new_p AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_new_price
        FROM changes GROUP BY cv, op
    """,
    tags=("source", "python-datasource", "cdc", "maintenance",
          "pushdown"),
    description="the BATCH change-feed window (round 14, Delta batch "
                "CDF): the same append/DV-delete/CoW-update chain as "
                "cdc_change_feed_orders, read through spark.read"
                ".format('mr4ver').option('readChangeFeed','true') "
                "with startingVersion=3/endingVersion=4 — only the "
                "mutation versions' D and U rows arrive (the appends "
                "are outside the window), planned as one executor "
                "task per version; per-(version, op) counts and "
                "key/price sums must match DuckDB constructing the "
                "same windowed change set from raw parquet",
)
def cdc_batch_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: the window bounds WHICH versions are diffed,
    and each version's cost stays O(its changed rows) — a bounded
    audit ('what changed between yesterday's and today's publishes')
    on a 100 TB chain reads the mutation deltas only, one executor
    task per version, driver never touching a row (PLANS.md round-14).

    Timing caveat (the metadata_agg_orders shape): the chain publish +
    mutations run at BUILD time; timings measure the windowed batch
    read + aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.functions.money import cents, dsum_longs
    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        update_version_pruned,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    low_keys = [r[0] for r in
                orders.select("o_orderkey").orderBy("o_orderkey")
                .limit(5).collect()]
    del_keys, upd_keys = low_keys[:3], low_keys[3:]
    td = tempfile.mkdtemp(prefix="mr4s_cdcw_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < b1)
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        write_version(orders.filter((F.col("o_orderkey") >= b1)
                                    & (F.col("o_orderkey") < b2))
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        delete_version_dv(spark, tdir, keys=del_keys, key="o_orderkey")
        update_version_pruned(
            spark, tdir, {"o_totalprice": F.col("o_totalprice") * 2},
            keys=upd_keys, key="o_orderkey")
        register_versioned_source(spark)
        changes = (
            spark.read.format("mr4ver")
            .option("readChangeFeed", "true").option("key", "o_orderkey")
            .option("startingVersion", "3").option("endingVersion", "4")
            .load(tdir)
        )
        agg = (
            changes
            .groupBy(F.col("_change_version").alias("change_version"),
                     "op")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("sum_key"),
                 # a version's inserts may be a whole-table append
                 dsum_longs(cents("old_o_totalprice"), 2)
                 .alias("sum_old_price"),
                 dsum_longs(cents("new_o_totalprice"), 2)
                 .alias("sum_new_price"))
        )
        rows = agg.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "change_version bigint, op string, n_rows bigint, "
              "sum_key bigint, sum_old_price double, "
              "sum_new_price double")


@register(
    "cdc_delta_shape_orders",
    requires=("mr4ver-read", "mr4ver-cdc"),
    oracle="""
        WITH m AS (SELECT MAX(o_orderkey) + 1 AS n FROM orders),
        v1 AS (
            SELECT o_orderkey, o_totalprice FROM orders, m
            WHERE o_orderkey < m.n // 3
        ),
        v2 AS (
            SELECT o_orderkey, o_totalprice FROM orders, m
            WHERE o_orderkey >= m.n // 3 AND o_orderkey < 2 * m.n // 3
        ),
        dk AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3),
        uk AS (SELECT o_orderkey FROM orders
               ORDER BY o_orderkey LIMIT 2 OFFSET 3),
        changes AS (
            SELECT 1 AS cv, 'insert' AS ct, o_orderkey AS k,
                   o_totalprice AS p FROM v1
            UNION ALL
            SELECT 2, 'insert', o_orderkey, o_totalprice FROM v2
            UNION ALL
            SELECT 3, 'delete', v1.o_orderkey, v1.o_totalprice
            FROM v1 JOIN dk ON v1.o_orderkey = dk.o_orderkey
            UNION ALL
            SELECT 4, 'update_preimage', v1.o_orderkey, v1.o_totalprice
            FROM v1 JOIN uk ON v1.o_orderkey = uk.o_orderkey
            UNION ALL
            SELECT 4, 'update_postimage', v1.o_orderkey,
                   v1.o_totalprice * 2
            FROM v1 JOIN uk ON v1.o_orderkey = uk.o_orderkey
        )
        SELECT CAST(cv AS BIGINT) AS commit_version, ct AS change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(p AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_price
        FROM changes GROUP BY cv, ct
    """,
    tags=("source", "python-datasource", "cdc", "maintenance"),
    description="Delta CDF row-shape interop (round 14): the same "
                "append/DV-delete/CoW-update chain as "
                "cdc_batch_window_orders, read through spark.read"
                ".format('mr4ver').option('readChangeFeed','true')"
                ".option('cdcFormat','delta') — rows arrive in Delta "
                "Lake's CDF surface (the table's own columns as the "
                "row image + _change_type/_commit_version/"
                "_commit_timestamp, updates as preimage+postimage "
                "PAIRS), so a consumer written against Delta's "
                "table_changes ports without renaming a column; "
                "per-(version, change_type) counts and key/price sums "
                "must match DuckDB constructing the same Delta-shaped "
                "change set from raw parquet",
)
def cdc_delta_shape_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: cdcFormat=delta is a pure per-row re-shaping
    of the same manifest-derived delta diff — one executor task per
    version, each O(its changed rows); the update pair doubles only
    the UPDATE rows, never the scan (PLANS.md round-14).

    Timing caveat (the metadata_agg_orders shape): the chain publish +
    mutations run at BUILD time; timings measure the whole-history
    delta-shaped read + aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.functions.money import cents, dsum_longs
    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        update_version_pruned,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    b1, b2 = n // 3, 2 * n // 3
    low_keys = [r[0] for r in
                orders.select("o_orderkey").orderBy("o_orderkey")
                .limit(5).collect()]
    del_keys, upd_keys = low_keys[:3], low_keys[3:]
    td = tempfile.mkdtemp(prefix="mr4s_cdcd_")
    try:
        tdir = f"{td}/orders_chain"
        write_version(orders.filter(F.col("o_orderkey") < b1)
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        write_version(orders.filter((F.col("o_orderkey") >= b1)
                                    & (F.col("o_orderkey") < b2))
                      .coalesce(1), tdir, append=True,
                      stats_for=["o_orderkey"])
        delete_version_dv(spark, tdir, keys=del_keys, key="o_orderkey")
        update_version_pruned(
            spark, tdir, {"o_totalprice": F.col("o_totalprice") * 2},
            keys=upd_keys, key="o_orderkey")
        register_versioned_source(spark)
        changes = (
            spark.read.format("mr4ver")
            .option("readChangeFeed", "true").option("key", "o_orderkey")
            .option("cdcFormat", "delta")
            .load(tdir)
        )
        agg = (
            changes
            .groupBy(F.col("_commit_version").alias("commit_version"),
                     F.col("_change_type").alias("change_type"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("sum_key"),
                 # a version's inserts may be a whole-table append
                 dsum_longs(cents("o_totalprice"), 2).alias("sum_price"))
        )
        rows = agg.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "commit_version bigint, change_type string, n_rows bigint, "
              "sum_key bigint, sum_price double")


@register(
    "stream_write_orders",
    requires=("mr4ver-read", "mr4ver-write"),
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38, 2))) AS DOUBLE)
                   AS sum_price
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("source", "python-datasource", "streaming", "sink"),
    description="the STREAMING write front door (round 14): orders is "
                "fed through a file-stream source into df.writeStream"
                ".format('mr4ver') as two micro-batches "
                "(maxFilesPerTrigger=1) — each "
                "micro-batch CAS-publishes ONE append commit "
                "(operation append-datasource-stream) with the "
                "manifest batch_id as the exactly-once replay key, "
                "the same staged-dir protocol as the batch writer — "
                "then the chain is read back through the format and "
                "aggregated per status; counts and key/price sums "
                "must match DuckDB aggregating the original parquet "
                "directly (the write+read round trip loses nothing)",
)
def stream_write_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: each micro-batch costs O(batch) — executor
    tasks stage Arrow straight to parquet, the commit is one manifest
    CAS — and the replay key makes crash-replay idempotent without
    scanning history (published_batch_ids is one listing + O(new
    versions) manifest reads). The 100 TB ingest posture is the
    foreachBatch sinks'; this is the same contract behind the
    standard writeStream API surface.

    Timing caveat (the metadata_agg_orders shape): the stream feeding
    + publishes run at BUILD time; timings measure the read-back
    aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_4_spark.functions.money import csum
    from mapreduce_4_spark.sources.pyds import register_versioned_source

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    n = int(orders.agg(F.max("o_orderkey")).first()[0]) + 1
    td = tempfile.mkdtemp(prefix="mr4s_swr_")
    try:
        src, tbl, ck = f"{td}/src", f"{td}/tbl", f"{td}/ck"
        register_versioned_source(spark)
        schema = "o_orderkey bigint, o_orderstatus string, " \
                 "o_totalprice double"
        for i, pred in enumerate(
                [F.col("o_orderkey") < n // 2,
                 F.col("o_orderkey") >= n // 2]):
            orders.filter(pred).coalesce(1).write.parquet(
                f"{src}/slice{i}")
        # one availableNow run, one file per trigger: each slice is
        # its own micro-batch, so the chain still gets one append
        # commit per batch without a second stream startup
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(f"{src}/slice*/*.parquet")
             .writeStream.format("mr4ver")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start(tbl))
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream_write_orders: availableNow feed did not "
                "finish in 300s — failing loudly instead of "
                "aggregating a half-written chain")
        agg = (
            spark.read.format("mr4ver").load(tbl)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_key"),
                 # long-cents sum; 100 TB bound ~2e18 cents per group < 2^63
                 csum("o_totalprice").alias("sum_price"))
        )
        rows = agg.collect()
    finally:
        shutil.rmtree(td, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, sum_key bigint, "
              "sum_price double")
