"""SparkSession factory with scale-aware defaults.

The reference engine hand-rolled its execution plumbing (std::async task
pools, stage barriers, text-file shuffles — SURVEY.md §2.1 O6/O8/O12/O13).
Here all of that is Spark's job: we only pin the configs that matter for
determinism (UTC session time zone), for Python interop (Arrow), and for
scale (AQE, partition sizing).

On a real cluster the same builder is used via ``spark-submit``; local[N]
is only the test harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for the 100 TB north star, not just local tests:
#: AQE re-plans shuffles at runtime (coalesces small partitions, splits
#: skewed ones, converts sort-merge joins to broadcast when a side turns
#: out small); Arrow keeps any unavoidable Python stage vectorized;
#: UTC keeps timestamp semantics identical to the DuckDB oracle.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB splits: the sweet spot for the vectorized parquet reader; at
    # 100 TB this yields ~800k input tasks, well within scheduler limits.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md), which the Spark
    # reader rejects; read it as raw long and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep planner free to broadcast dimension tables (region/nation/...).
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # InferFiltersFromGenerate adds size(arr)>0 / isnotnull(arr) guards
    # below every Generate; PushDownPredicates then substitutes the
    # array-producing expression (tokenize + gram transforms here) into
    # those filters, re-evaluating the whole pipeline 2-3x per row —
    # measured 10-40% on the explode-heavy dedup family and up to 7x on
    # winnowing before its query-level fix. Our exploded arrays are
    # never null and rarely empty, so the inferred guards only burn CPU.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.shuffle.partitions": "32",
    # Python DataSource filter pushdown (off by default in 4.1): lets
    # the mr4ver format's pushFilters prune chain dirs at planning
    # time (stats windows + bloom probes); the source still returns
    # every filter for exact post-scan application, so enabling this
    # only ever REMOVES provably-empty input partitions.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Spark's generated-class cache (one LRU per JVM) defaults to 100
    # entries. A perfbench ``tables`` job cycles ~126 distinct classes
    # (110 from its eight TPC-H queries, 16 from the versioned round) and
    # bench.py's headline set over 100, so the LRU missed on every stage
    # and each repeated query paid Janino and the JIT again (the TPC-H
    # eight, three passes in one session: 119, 81, 78 compilations at
    # 100 entries; 119, 4, 0 at 1000). Spark sizes the cache from the
    # session active at the JVM's first codegen, which get_spark is for
    # perfbench, bench.py, bench_sweep.py and the tests. Bounded because
    # the whole registry at sf0.01 generates 3010 distinct classes:
    # keeping them all grew Metaspace 84 -> 243 MB (~53 KB a class) and
    # the JIT code heaps 11 -> 145 MB, near the 240 MB reserved code
    # cache; 1000 entries hold the working sets above for ~50 MB of
    # Metaspace. A session built with plain SparkSession.builder (the
    # stock session of scripts/full_oracle_drive.py) keeps 100 on
    # purpose: it checks the registry under Spark's stock settings.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # local[N] runs the whole engine inside the driver JVM, whose default
    # 1g heap starves 32 concurrent tasks' execution memory (observed:
    # UNABLE_TO_ACQUIRE_MEMORY during the full-registry sweep). Size it
    # like one real executor instead; harmless under spark-submit, where
    # --driver-memory / executor memory take precedence over this default
    # (only applied at JVM launch, overridable via SPARK_GRAFT_DRIVER_MEM).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "mapreduce_4_spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code
    runs unchanged under a cluster manager (where ``master`` comes from
    spark-submit and this arg stays None with an existing session).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not SparkSession.getActiveSession():
        master = f"local[{default_parallelism()}]"
    if master:
        builder = builder.master(master)
    confs = dict(_BASE_CONFS)
    # shuffle partitions sized to the harness; on a real cluster AQE
    # coalesces from a larger initial number instead.
    confs["spark.sql.shuffle.partitions"] = str(default_parallelism())
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_counters(spark: SparkSession, since: dict | None = None) -> dict:
    """The driver JVM's code-generation counters, cumulative since JVM
    start (the difference from ``since``, an earlier reading, when
    given): Janino ``compilations`` (one per codegen cache miss), the
    ``classes`` they generated (inner classes included), ``janino_ms``,
    HotSpot ``jit_ms`` and ``metaspace_mb`` (a level, so its
    difference is the growth). In local mode this JVM runs the tasks
    too, so the counts cover every stage."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    mgmt = jvm.java.lang.management.ManagementFactory
    metaspace = next(p for p in mgmt.getMemoryPoolMXBeans()
                     if p.getName() == "Metaspace")
    now = {
        "compilations": metrics.METRIC_COMPILATION_TIME().getCount(),
        "classes": metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
        "janino_ms": jvm.org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime() / 1e6,
        "jit_ms": mgmt.getCompilationMXBean().getTotalCompilationTime(),
        "metaspace_mb": metaspace.getUsage().getUsed() / 2**20,
    }
    if since:
        now = {k: v - since[k] for k, v in now.items()}
    return {k: round(v, 1) if isinstance(v, float) else v
            for k, v in now.items()}
