"""Structured Streaming verified against the oracle-checked batch twins
(SURVEY.md §7.4: deterministic replay of events with availableNow)."""

from __future__ import annotations

import pytest

from mapreduce_4_spark.plans.events_time import events_tumbling_1h
from mapreduce_4_spark.streaming import (
    events_stream,
    run_stream_to_memory,
    stream_dedup_events,
    stream_session_windows,
    stream_tumbling_counts,
)


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, sf_smoke):
    stream = events_stream(spark, sf_smoke)
    assert stream.isStreaming
    # complete mode: emit every window at the end regardless of watermark,
    # so a full replay must equal the batch aggregation exactly
    run_stream_to_memory(
        stream_tumbling_counts(stream), "t_tumbling", output_mode="complete"
    )
    got = spark.table("t_tumbling")
    expected = events_tumbling_1h(spark, sf_smoke)
    assert _rows(got) == _rows(expected)


def test_stream_dedup_passthrough(spark, sf_smoke):
    # event_id is unique in the fixture: dedup must be a passthrough
    stream = events_stream(spark, sf_smoke)
    run_stream_to_memory(stream_dedup_events(stream), "t_dedup")
    n = spark.table("t_dedup").count()
    from mapreduce_4_spark.sources import load_table

    assert n == load_table(spark, sf_smoke, "events").count()


def test_stream_sessions_agree_with_batch_sessionization(spark, sf_smoke):
    from mapreduce_4_spark.plans.events_time import events_user_sessions

    stream = events_stream(spark, sf_smoke)
    run_stream_to_memory(
        stream_session_windows(stream), "t_sessions", output_mode="complete"
    )
    got = spark.table("t_sessions")
    batch = events_user_sessions(spark, sf_smoke)
    # session_window end = last_event + gap, while the batch twin reports
    # last event time; compare session count and event totals per user
    g = {r["user_id"]: r["n"] for r in
         got.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    b = {r["user_id"]: r["n"] for r in
         batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    assert g == b
    gt = dict(got.groupBy("user_id").sum("n_events").collect())
    bt = dict(batch.groupBy("user_id").sum("n_events").collect())
    assert gt == bt


def test_stream_incremental_trigger(spark, sf_smoke):
    """maxFilesPerTrigger forces multiple micro-batches; results must not
    depend on batch slicing (same totals as one-shot replay)."""
    stream = events_stream(spark, sf_smoke, max_files_per_trigger=1)
    run_stream_to_memory(
        stream_tumbling_counts(stream), "t_tumbling_inc", output_mode="complete"
    )
    got = spark.table("t_tumbling_inc")
    expected = events_tumbling_1h(spark, sf_smoke)
    assert _rows(got) == _rows(expected)


def test_stream_static_enrichment_matches_batch(spark, sf_smoke):
    """Stream-static broadcast join: draining the enriched stream and
    aggregating must reproduce the oracle-checked batch enrichment."""
    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.sources import load_table
    from mapreduce_4_spark.streaming import (
        events_stream,
        run_stream_to_memory,
        stream_enrich_customers,
    )
    from pyspark.sql import functions as F
    from mapreduce_4_spark.functions.money import dec

    stream = events_stream(spark, sf_smoke).select("user_id", "event_type", "value")
    cust = load_table(spark, sf_smoke, "customer").select("c_custkey", "c_mktsegment")
    run_stream_to_memory(
        stream_enrich_customers(stream, cust), "t_enriched", output_mode="append"
    )
    got = (
        spark.table("t_enriched")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(dec("value")).cast("double").alias("sum_value"))
    )
    expected = REGISTRY["events_customer_enrichment"].builder(spark, sf_smoke)
    assert _rows(got) == _rows(expected)


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke):
    """Two watermarked streams joined on user + time range must produce
    exactly the batch interval-join's pairs once fully drained."""
    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.streaming import (
        events_stream,
        run_stream_to_memory,
        stream_click_purchase_join,
    )
    from pyspark.sql import functions as F

    def side(event_type):
        return (
            events_stream(spark, sf_smoke)
            .filter(F.col("event_type") == event_type)
            .select("event_id", "user_id", "ts")
        )

    joined = stream_click_purchase_join(side("click"), side("purchase"))
    run_stream_to_memory(joined, "t_attrib", output_mode="append")
    got = spark.table("t_attrib")
    expected = REGISTRY["click_purchase_attribution"].builder(spark, sf_smoke)
    assert _rows(got) == _rows(expected)
