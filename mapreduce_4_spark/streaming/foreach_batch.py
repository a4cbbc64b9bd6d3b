"""foreachBatch sinks: idempotent exactly-once writes and multi-sink fan-out.

The built-in parquet streaming sink (test_streaming_checkpoint.py) gets
exactly-once from the sink's own write-ahead log. ``foreachBatch`` is the
escape hatch for everything else — JDBC, upserts, multiple sinks — and
there the contract is weaker: a batch can be RE-DELIVERED after a crash
between "sink written" and "checkpoint committed". Exactly-once is
recovered by making the write idempotent on ``batch_id``, the stable
replay key Spark guarantees (same id ⇒ same data).

Pattern here: partition the output by ``batch_id`` and write with dynamic
partition overwrite, so a redelivered batch replaces its own partition
instead of appending a duplicate. This is the standard object-store
recipe and works unchanged on a 1000-executor cluster writing to S3/HDFS
— per-batch partitions also keep the commit scoped (no global rename).

The reference has no streaming at all (SURVEY.md §2.2); this generalizes
its stage-sink idea (O6/O8/O10: each stage writes a directory tree) to
continuous arrival.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def idempotent_parquet_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Return a foreachBatch function writing each micro-batch to
    ``out_dir/batch_id=N/`` with dynamic partition overwrite — replaying
    batch N (crash-before-commit redelivery) overwrites only its own
    partition, never duplicating rows."""
    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return write_batch


def fanout_writer(raw_dir: str, agg_dir: str,
                  agg_fn: Callable[[DataFrame], DataFrame]) -> Callable[[DataFrame, int], None]:
    """Two sinks fed from ONE micro-batch scan: persist the batch, write
    the raw rows and a derived aggregate. ``batch_df.persist()`` is the
    load-bearing line — without it each sink re-reads the source."""
    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            stamped = batch_df.withColumn("batch_id", F.lit(batch_id))
            (
                stamped.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(raw_dir)
            )
            (
                agg_fn(batch_df).withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(agg_dir)
            )
        finally:
            batch_df.unpersist()

    return write_batch


def run_foreach_batch(stream_df: DataFrame,
                      batch_fn: Callable[[DataFrame, int], None],
                      checkpoint_dir: str) -> None:
    """Drain the stream through ``foreachBatch`` with availableNow; the
    checkpoint records committed batch ids so a restart resumes (and a
    redelivery replays the same batch_id into the idempotent writer)."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def versioned_upsert_sink(table_dir: str, key: str,
                          expectations: dict | None = None,
                          ) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink merging each micro-batch into a snapshot-
    versioned table (sources/versioned.py) with exactly-once republish
    protection.

    Each batch keyed-upserts into the latest snapshot and publishes a
    NEW version whose manifest records the ``batch_id``. On redelivery
    (crash between sink write and checkpoint commit), the batch_id is
    already present in the table's history and the write is skipped —
    the upsert is idempotent at the table level, so the stream gets
    exactly-once semantics on top of an at-least-once callback, and the
    table keeps time travel across the whole ingestion history.

    Scale: the upsert is one full-outer-join-shaped merge per batch
    (operators/maintenance.py); the history scan for replay detection is
    O(versions) manifest reads, pure metadata.
    """
    from mapreduce_4_spark.operators.maintenance import upsert
    from mapreduce_4_spark.sources.versioned import (
        layout_from_manifest,
        list_versions,
        published_batch_ids,
        read_manifest,
        read_version,
        write_version,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Cached replay check shared with streaming/ingest.py — O(new
        # versions) manifest reads per batch, mtime-validated.
        if batch_id in published_batch_ids(table_dir):
            return  # redelivered batch: already merged, skip
        versions = list_versions(table_dir)
        extra: dict = {}
        if expectations:
            # DLT-style streaming expectations, drop mode: gate the
            # ARRIVING rows (never already-accepted table rows), record
            # per-rule violation counts in this version's manifest as
            # the per-batch audit trail. Deterministic, so a redelivered
            # batch re-derives the identical clean subset.
            from mapreduce_4_spark.operators.maintenance import (
                apply_expectations,
            )

            counts, batch_df = apply_expectations(batch_df, expectations)
            extra["expectations"] = counts
        layout: dict = {}
        if versions:
            # carry the table's bucket/cluster/partition layout through
            # the merge — a bucketed table must stay exchange-free after
            # every streaming upsert, not just after its first write
            layout = layout_from_manifest(read_manifest(table_dir, versions[-1]))
            merged = upsert(
                read_version(batch_df.sparkSession, table_dir), batch_df, key
            )
        else:
            merged = batch_df
        write_version(merged, table_dir, batch_id=batch_id,
                      manifest_extra=extra, **layout)

    return write_batch


def versioned_merge_sink(table_dir: str, key: str,
                         expectations: dict | None = None,
                         max_keys: int = 1_000_000,
                         ) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink merging each micro-batch into a versioned
    table via COPY-ON-WRITE (``merge_version_pruned``) — the
    O(touched dirs + batch) twin of ``versioned_upsert_sink``'s
    O(table) full rewrite, and the right sink once the table dwarfs
    the batch.

    First batch publishes the table with stats+bloom recorded on the
    merge key, so every later batch's dir classification has both
    pruning axes: the [min, max] window for key-ordered arrivals and
    the bloom for scattered ones. Per batch, only chain dirs provably
    holding updated keys rewrite; the rest carry by reference, and the
    batch's rows land in one new dir. Exactly-once via the same
    ``batch_id`` replay protection (the id rides the CoW commit's
    manifest); expectations gate arriving rows with per-batch audit
    counts exactly like the full-rewrite sink.

    Scale note: the chain grows one dir per merge — schedule
    ``compact_tail`` at the usual cadence (the streaming-ingest
    two-level schedule, SCALE.md) to bound it. Batch key sets are
    driver-bounded by ``max_keys`` on the FAST path (manifest
    classification, zero scans); a batch wider than that falls back
    to ``merge_version_joined`` (round 12: one-scan join
    classification, keys never collected) instead of killing the
    stream — a catch-up burst or backfill replay must degrade to a
    slower commit, never to a dead query.
    """
    from mapreduce_4_spark.sources.versioned import (
        KeyBudgetError,
        merge_version_joined,
        merge_version_pruned,
        published_batch_ids,
        write_version,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in published_batch_ids(table_dir):
            return  # redelivered batch: already merged, skip
        extra: dict = {}
        if expectations:
            from mapreduce_4_spark.operators.maintenance import (
                apply_expectations,
            )

            counts, batch_df = apply_expectations(batch_df, expectations)
            extra["expectations"] = counts
        try:
            merge_version_pruned(
                batch_df.sparkSession, table_dir, batch_df, key,
                max_keys=max_keys,
                manifest_extra={"batch_id": batch_id, **extra})
        except FileNotFoundError:
            # first batch: seed the table with the pruning metadata
            # every later merge classifies against
            write_version(batch_df, table_dir, batch_id=batch_id,
                          manifest_extra=extra,
                          stats_for=[key], bloom_for=[key])
        except KeyBudgetError:
            # wide batch (backfill/catch-up burst): the join-classified
            # merge keeps the commit dir-granular without the driver
            # key collect — slower (one classification scan), alive
            merge_version_joined(
                batch_df.sparkSession, table_dir, batch_df, key,
                manifest_extra={"batch_id": batch_id, **extra})

    return write_batch
