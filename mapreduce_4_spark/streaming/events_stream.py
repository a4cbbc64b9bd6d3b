"""Structured Streaming pipelines over the events table.

The reference is strictly batch (SURVEY.md §2.2 "Streaming: None" — its
stages poll static directories over TCP). Here the events table becomes a
stream: ``readStream`` over the parquet directory, event-time windows
with watermarks for late data, stateful dedup, session windows.

The batch twins in ``plans/events_time.py`` carry the DuckDB oracles;
these pipelines run the same logic under the streaming engine, verified
in tests by replaying the static data with ``trigger(availableNow)`` and
comparing against the batch results. On a real cluster the source would
be Kafka/object-store arrivals; everything below the source line is
unchanged — that's the point of the unified DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import csum


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming view of the events table.

    Schema comes from a batch peek (streaming sources need it up front);
    ts arrives as raw nanos (see sources.tables) and is converted with
    the same exact integer division.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # FileStreamSource wants a directory: stream the sf dir with a glob
    # filter so only the events file(s) feed the source.
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    # NOTE: watermarks require plain TIMESTAMP (not NTZ) event time; the
    # batch loader uses NTZ for oracle type parity, and under the pinned
    # UTC session both render identical wall times. Depending on the
    # PySpark build the batch-peek schema yields either raw bigint nanos
    # (legacy nanosAsLong) or TIMESTAMP_NTZ — normalize both.
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_tumbling_counts(stream: DataFrame,
                           watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h windows by event type — streaming twin of
    ``events_tumbling_1h``. Watermark bounds state: windows older than
    max(event_time) - watermark are finalized and evicted."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # long-cents sum; 100 TB bound: value cents ~1e4/row x the
            # events of one hour and type << 2^63
            csum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(stream: DataFrame, gap: str = "30 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    streaming twin of ``events_user_sessions`` (which derives sessions
    with lag + running sum; the streaming engine keeps session state
    natively via ``session_window``)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_events(stream: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon —
    the streaming form of exact dedup: state is bounded by the watermark,
    so this runs forever at constant memory per key horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def stream_dedup_within_watermark(stream: DataFrame,
                                  watermark: str = "2 hours") -> DataFrame:
    """Dedup on event_id ALONE with watermark-scoped state eviction
    (dropDuplicatesWithinWatermark): unlike plain dropDuplicates — which
    must keep the dedup key in the state key forever unless the event
    time is part of it — this guarantees eviction of keys older than the
    watermark while deduplicating records whose event times differ within
    it. The right primitive for at-least-once sources that may redeliver
    the same event with a slightly different timestamp."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "append") -> None:
    """Drain the stream into an in-memory table with availableNow (test
    harness; a real deployment writes a sink, e.g. parquet/Kafka)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_enrich_customers(stream: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: enrich arriving events with the customer
    dimension. The static side is broadcast to every task and re-resolved
    per micro-batch, so a dimension refresh is picked up without
    restarting the query — the streaming twin of
    ``events_customer_enrichment``'s join stage. Stateless: no watermark
    needed, each event joins exactly once."""
    return stream.join(
        F.broadcast(customers), stream.user_id == customers.c_custkey
    )


def stream_click_purchase_left_join(clicks: DataFrame, purchases: DataFrame,
                                    watermark: str = "2 hours") -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, with its
    in-horizon purchase when one exists and NULLs when none does.

    The outer side makes eviction semantics load-bearing: an unmatched
    click can only be emitted once the watermark proves no qualifying
    purchase can still arrive (purchase watermark past click_ts + 1h),
    so NULL rows surface with watermark latency, never speculatively.
    Same state bound as the inner join — O(events in the horizon).
    """
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts < c.ts + interval 1 hour"
        ),
        "left_outer",
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.ts").alias("purchase_ts"),
    )


def stream_click_purchase_full_outer_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched pairs as they
    arrive, plus every unmatched click AND every unmatched purchase once
    the watermark proves its counterpart can no longer arrive.

    Both sides' eviction semantics are load-bearing: a purchase with no
    click is only emitted once the click watermark passes purchase_ts
    (a click can only precede its purchase under the interval bound),
    and an unmatched click once the purchase watermark passes
    click_ts + 1h. State stays O(events in the horizon) — the same
    bound as the inner and left-outer forms above.
    """
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts < c.ts + interval 1 hour"
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("c.user_id"), F.col("p.user_id")).alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.ts").alias("purchase_ts"),
    )


def stream_click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                               watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: purchases within one hour after a
    click by the same user. Both sides carry watermarks and the join
    condition bounds purchase time relative to click time, so the engine
    can evict click state once no in-horizon purchase can still arrive —
    state stays O(events in the horizon), the requirement for running
    unbounded. Streaming twin of ``click_purchase_attribution``."""
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts < c.ts + interval 1 hour"
        ),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.ts").alias("purchase_ts"),
    )
