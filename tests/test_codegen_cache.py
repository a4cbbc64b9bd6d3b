"""Spark's generated-class cache must hold the engine's working set.

The cache is one LRU per JVM, sized by the static conf
``spark.sql.codegen.cache.maxEntries`` (Spark's default: 100). perfbench's
``tables`` job cycles ~126 distinct generated classes; at 100 entries the
LRU misses on every stage and each repeated query pays Janino and the JIT
again (measured at 100 entries: 81 and 78 compilations on the second and
third pass of the queries below).
``session.get_spark`` sizes the cache; this pins that a repeated pass
compiles nothing.
"""

from __future__ import annotations

from perfbench.run import TPCH_QUERIES

from mapreduce_4_spark.session import codegen_counters

#: distinct generated classes one perfbench ``tables`` job cycles through
TABLES_WORKING_SET = 126


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_cache_is_sized_past_the_tables_working_set(spark):
    entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert entries >= TABLES_WORKING_SET


def test_repeated_tpch_pass_compiles_nothing(spark, sf_oracle):
    import mapreduce_4_spark.plans  # noqa: F401  (registers the queries)
    from mapreduce_4_spark.registry import REGISTRY

    frames = [REGISTRY[n].builder(spark, sf_oracle) for n in TPCH_QUERIES]
    passes = []
    for _ in range(3):
        before = codegen_counters(spark)
        for df in frames:
            _noop(df)
        passes.append(codegen_counters(spark, since=before)["compilations"])
    # the first pass compiles the working set, the second may compile a
    # few classes for plans AQE re-optimizes from runtime statistics
    assert passes[2] == 0, f"compilations per pass: {passes}"
