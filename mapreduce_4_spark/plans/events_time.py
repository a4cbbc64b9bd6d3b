"""Time-window aggregations over the events table, in batch.

These are the batch twins of the Structured Streaming pipelines in
``mapreduce_4_spark.streaming`` — identical logic, DuckDB-oracle-checkable
here, re-run under ``readStream`` + watermark there (SURVEY.md §7.2 step 4:
batch first, then the same logic as a stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.money import csum, sql_dsum
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table


@register(
    "events_tumbling_1h",
    oracle=f"""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM events
        GROUP BY window_start, window_end, event_type
    """,
    tags=("events", "time-window"),
    description="tumbling 1-hour windows by event type (batch twin of the stream)",
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # long-cents sum: bit-identical, long-backed buffer
            # (round-14; value cents ~1e4/row, groups hour x type)
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


@register(
    "events_sliding_30m",
    oracle=f"""
        WITH offsets AS (SELECT unnest([0, 30]) AS off_min),
        bucketed AS (
            SELECT time_bucket(INTERVAL '1 hour',
                               CAST(ts AS TIMESTAMP) - to_minutes(off_min))
                   + to_minutes(off_min) AS window_start,
                   value
            FROM events, offsets
        )
        SELECT window_start,
               window_start + INTERVAL '1 hour' AS window_end,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM bucketed
        GROUP BY window_start
    """,
    tags=("events", "time-window"),
    description="sliding 1-hour windows every 30 minutes (each event in 2 windows)",
)
def events_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # long-cents sum: bit-identical, long-backed buffer
            # (round-14; value cents ~1e4/row, grouped by the sliding
            # 1h/30m window alone — each event lands in 2 windows)
            csum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_user_sessions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - LAG(CAST(ts AS TIMESTAMP), 1, TIMESTAMP '1970-01-01')
                               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM ordered
        )
        SELECT user_id, session_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
    tags=("events", "time-window", "window"),
    description="sessionization with a 30-minute gap via lag + running sum "
                "(batch twin of session_window in streaming)",
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # gap test in exact microseconds — casting timestamps to long would
    # truncate to seconds and disagree with the oracle's interval compare
    prev = F.lag("ts").over(wo)
    with_flag = ev.withColumn(
        "new_session",
        (
            prev.isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
                > 30 * 60 * 1_000_000
            )
        ).cast("int"),
    )
    return (
        with_flag.withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_resample_hourly",
    oracle=f"""
        WITH b AS (
            SELECT user_id, date_trunc('hour', MIN(ts)) AS g0,
                   date_trunc('hour', MAX(ts)) AS g1
            FROM events GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(g0, g1, INTERVAL 1 HOUR)) AS ts
            FROM b
        ),
        u AS (
            SELECT user_id, ts, 0 AS is_grid, event_id, value FROM events
            UNION ALL
            SELECT user_id, ts, 1, NULL, NULL FROM grid
        ),
        l AS (
            SELECT user_id, ts, is_grid,
                   last_value(value IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, is_grid, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS locf
            FROM u
        )
        SELECT user_id,
               COUNT(*) AS n_grid,
               CAST(COUNT(locf) AS BIGINT) AS n_filled,
               {sql_dsum('locf')} AS sum_locf
        FROM l WHERE is_grid = 1 GROUP BY user_id
    """,
    tags=("timeseries", "window"),
    description="time-series resampling to a regular hourly grid with "
                "last-observation-carried-forward: per user, generate the "
                "hour grid spanning their activity, take each grid "
                "point's LOCF value via ONE merged per-user window pass "
                "(no as-of join), and digest per user (grid size, filled "
                "points, exact-decimal sum of resampled values)",
)
def events_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sensor/telemetry regularization primitive: irregular events
    become a fixed-cadence series. The union trick folds grid points
    into the event timeline and ONE LOCF window (partitioned by user,
    ordered by ts with grid rows AFTER real events at the same instant)
    values every grid point — a single user-keyed shuffle at any scale,
    where the naive as-of join would shuffle twice and build a range
    join. Grid volume is span/cadence per user — sized by the caller's
    cadence choice, independent of event count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("g0"),
        F.date_trunc("hour", F.max("ts")).alias("g1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("g0", "g1", F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )
    from pyspark.sql import Window

    u = ev.select(
        "user_id", "ts", F.lit(0).alias("is_grid"), "event_id", "value"
    ).unionByName(
        grid.select(
            "user_id", "ts", F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_grid", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = F.last("value", ignorenulls=True).over(w)
    return (
        u.select("user_id", "is_grid", locf.alias("locf"))
        .filter(F.col("is_grid") == 1)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_grid"),
            F.count("locf").alias("n_filled"),
            # long-cents sum; 100 TB bound: value cents ~1e4 per grid
            # point x span/cadence points per user (~1e5) << 2^63
            csum("locf").alias("sum_locf"),
        )
    )
