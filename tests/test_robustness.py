"""Edge-input robustness: nulls, empties, and plan-strategy changes must
not change results (the reference would segfault on most of these)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_4_spark.plans import REGISTRY


def test_wordcount_tolerates_null_and_empty_text(spark):
    from mapreduce_4_spark.plans.wordcount import exploded_words

    df = spark.createDataFrame(
        [(1, "real words here"), (2, None), (3, ""), (4, "   ")],
        ["doc_id", "text"],
    )
    got = exploded_words(df).groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in got} == {1: 3}


def test_dedup_tolerates_null_text(spark):
    from mapreduce_4_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_pairs,
    )

    df = spark.createDataFrame(
        [(1, "one two three four five six"), (2, None),
         (3, "one two three four five six"), (4, "")],
        ["doc_id", "text"],
    )
    pairs = minhash_near_duplicates(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}
    # null/empty text has no fingerprint, so it pairs with nothing —
    # not even with another null/empty doc
    pairs = simhash_near_pairs(df, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}


def test_similarity_tolerates_empty_corpus(spark):
    from mapreduce_4_spark.operators.similarity import brute_force_topk

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    q = spark.createDataFrame([(999, [0.1] * 4)], schema).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert brute_force_topk(empty, q, k=5).count() == 0


def test_join_same_result_without_broadcast(spark, sf_smoke):
    """Disable auto-broadcast on a hint-free join: the plan degrades to a
    shuffle join, results stay identical — physical strategy changes must
    never change answers. (Queries with explicit broadcast() hints keep
    their hints regardless of the threshold; this uses a hint-free one.)
    """
    build = REGISTRY["join_left_customer_orders"].builder
    baseline = sorted(map(tuple, build(spark, sf_smoke).collect()))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = build(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        degraded = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    assert degraded == baseline


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_results_invariant_to_shuffle_partition_count(spark, sf_smoke):
    """Partial aggregates reduce in whatever order the partitioning
    dictates; the decimal discipline (functions/money.py) makes that
    order invisible. 5 vs 32 shuffle partitions must be bit-identical."""
    for name in ("q1_pricing_summary", "q17_small_qty_revenue",
                 "window_running_revenue"):
        build = REGISTRY[name].builder
        baseline = _rows(build(spark, sf_smoke))
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        try:
            skewed = _rows(build(spark, sf_smoke))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert skewed == baseline, name


def test_results_invariant_to_aqe(spark, sf_smoke):
    """AQE rewrites exchanges and join strategies at runtime; answers may
    not move. Probes the heaviest multi-join and the SCD2 merge."""
    for name in ("q7_nation_trade", "scd2_customer_segments"):
        build = REGISTRY[name].builder
        baseline = _rows(build(spark, sf_smoke))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            no_aqe = _rows(build(spark, sf_smoke))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert no_aqe == baseline, name


def test_round2_queries_invariant_to_shuffle_partition_count(spark, sf_smoke):
    """Round-2 families: the derived-partsupp joins, mixture rebalancing
    (content-keyed selection + count-derived rates), decontamination, and
    rank-selection percentiles must be partition-count-invariant."""
    for name in ("q9_product_type_profit", "q11_important_stock",
                 "rebalance_language_mixture", "decontaminate_vs_holdout",
                 "exact_percentiles_orders", "dedup_clusters"):
        build = REGISTRY[name].builder
        baseline = _rows(build(spark, sf_smoke))
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        try:
            skewed = _rows(build(spark, sf_smoke))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert skewed == baseline, name


def test_round2_queries_invariant_to_aqe(spark, sf_smoke):
    for name in ("q2_min_cost_supplier", "q20_restock_candidates"):
        build = REGISTRY[name].builder
        baseline = _rows(build(spark, sf_smoke))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            no_aqe = _rows(build(spark, sf_smoke))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert no_aqe == baseline, name
