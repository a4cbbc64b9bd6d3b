"""Streaming corpus ingestion with online near-duplicate dedup — the
daily-crawl pipeline as a stream.

Each micro-batch of new documents is (1) deduped WITHIN the batch
(MinHash-LSH pairs, smaller doc_id wins — the ``neardup_survivors``
keep rule), (2) probed against the accumulated corpus via its persisted
signature/shingle INDEX table — the corpus text is never re-shingled,
never re-hashed, and never paired against itself — and (3) only the
surviving documents are appended, publishing the corpus AND its index
as lockstep snapshot versions (sources/versioned.py).

Exactly-once across the tables rides per-table batch_id replay keys:
corpus publishes first, index second (bands last in banded mode), and
a redelivered batch (re)publishes only whichever table is missing its
batch_id — because the probe reads the INDEX (still at the parent
state until its own publish), the recomputed survivor set is identical
and the repair is idempotent. This is the streaming composition of
``operators.dedup.minhash_incremental_neardup`` (the batch twin the
tests pin against) with the ``foreach_batch.versioned_upsert_sink``
exactly-once contract.

100 TB posture — the ``index_layout`` dial:

- ``"plain"`` (default): per batch the work is O(|delta| x bands)
  band-join rows plus true bucket collisions, but the probe SCANS the
  whole index chain (re-banding it in-flight) — the measured residual
  +10% slope over 120 batches (SCALE.md), the right plan to ~10^7 docs.
- ``"banded"``: the band table itself is persisted as a SEPARATE
  versioned append chain, hive-partitioned on ``bh_part =
  pmod(band_hash, nparts)`` (sources/versioned.py partitioned append
  chains), and the shingle index is partitioned on ``id_part =
  pmod(doc_id, nparts)``. Per batch the probe collects the batch's
  partition sets (two bounded <=nparts driver lists) and path-prunes
  the chain read (``read_version_pruned``) to ONLY those directories.
  This is the 10^9-doc dial SCALE.md names, and its win condition is
  QUANTITATIVE (measured, SCALE.md round-9 table): a batch touches
  ~(1 - exp(-|batch| x bands / nparts)) of the partitions, so pruning
  pays only when |batch| x bands << nparts AND the corpus dwarfs the
  batch — trickle micro-batches against a huge corpus. At fixture
  scale with nparts=32 every batch touches every partition and banded
  measured WORSE than plain (slope 2.45 vs 1.29) — use plain below
  ~10^7 docs, and bound the chain's listing term with compact().

Reference anchor: generalizes the reference's append-only final sink
(asio_deep/main.cpp:470-506) into an idempotent, dedup-gated publish.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.text import ngrams_join, words
from mapreduce_4_spark.operators.dedup import (
    _minhash_signatures,
    _verified_pairs,
    candidate_pairs,
    lsh_band_table,
)
from mapreduce_4_spark.sources.versioned import (
    compact,
    compact_tail,
    latest_version,
    published_batch_ids as _published_batch_ids,
    read_manifest,
    read_version,
    read_version_pruned,
    write_version,
)

#: hive-partition fan-out for the banded index layout. Bounded driver
#: traffic per batch (two <=_INGEST_NPARTS-value lists) and bounded
#: directory counts; at 10^9 docs turn it up with the corpus.
_INGEST_NPARTS = 32


def bands_table_dir(index_dir: str) -> str:
    """The band chain's directory for a given index dir (banded mode)."""
    return index_dir.rstrip("/") + "_bands"


def _maybe_compact(spark, table_dir: str, every: int,
                   target_files: int | None, mode: str = "full") -> None:
    """Fold ``table_dir``'s append chain once its data-dir list reaches
    ``every`` entries — a full-snapshot rewrite (``mode="full"``) or an
    LSM-style tail fold that leaves the base dir in place
    (``mode="tail"``, cost O(trickle) instead of O(corpus) — SCALE.md's
    round-10 probe measured why that matters). Self-healing by design:
    the trigger reads the LATEST manifest's chain length, so no side
    state exists to corrupt — a crash before/inside/after any compact
    call just leaves a chain that re-triggers (or a fresh snapshot) on
    the next cadence check, and compaction itself publishes an ordinary
    immutable version (readers of the chain are untouched; vacuum
    reclaims it later)."""
    v = latest_version(table_dir)
    if v is None:
        return
    dirs = read_manifest(table_dir, v).get("data_dirs")
    if dirs is not None and len(dirs) >= every:
        if mode == "tail":
            # None passes through: compact_tail treats it as UNSPECIFIED
            # (plain folds -> 1 file, clustered folds -> shuffle
            # parallelism), so a chain that records a sort_by/zorder_by
            # discipline keeps its layout-preserving fold
            compact_tail(spark, table_dir, target_files=target_files)
        else:
            compact(spark, table_dir,
                    target_files=1 if target_files is None
                    else target_files)


def dedup_ingest_sink(corpus_dir: str, index_dir: str,
                      threshold: float = 0.8, n: int = 3,
                      index_layout: str = "plain",
                      nparts: int = _INGEST_NPARTS,
                      compact_every: int | None = None,
                      compact_target_files: int | None = None,
                      compact_mode: str = "full",
                      ) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: near-dup-gated append into a versioned corpus
    plus its signature/shingle index, exactly-once per batch on both.

    Documents shorter than ``n`` words have no shingles; they get a
    SINGLETON set {normalized text} instead, so they ride the identical
    banded pipeline and dedup EXACTLY (jaccard of singletons is 1.0 on
    a text match, 0 otherwise) — every document, long or short, is
    probed and indexed; the corpus/index lockstep holds corpus-wide.

    ``index_layout``: "plain" or "banded" — see the module docstring;
    the survivor set is layout-invariant (pinned by test).

    ``compact_every=K`` (opt-in) folds each table's append chain into a
    full snapshot whenever the chain reaches K data dirs — the cadence
    that BOUNDS the chain-listing term an unattended 10^9-doc trickle
    would otherwise grow without limit (SCALE.md). Compaction runs
    AFTER the batch's publishes and is decoupled from the exactly-once
    protocol: its trigger is derived from the latest manifest (no side
    state), its publish is an ordinary immutable version with no
    batch_id, and a crash at ANY point mid-cadence leaves either the
    old chain (re-triggers next batch) or the folded snapshot — the
    survivor set is invariant either way (test-pinned across a
    mid-compaction crash). ``compact_target_files`` sizes the folded
    snapshot for unpartitioned tables (partitioned chains keep their
    directory scheme); at real scale set it ~ corpus_bytes / 1 GB.
    ``None`` (the default) means UNSPECIFIED — full compacts fold to 1
    file, and tail folds inherit ``compact_tail``'s layout-aware
    default (1 file for plain chains, one file per shuffle partition
    for chains recording a sort_by/zorder_by discipline, so the
    maintenance cadence never silently erases a clustered layout's
    skipping value). Any explicit value — including 1 — is honored
    verbatim on both paths.

    ``compact_mode`` picks the fold: ``"full"`` rewrites the whole
    snapshot (re-establishing a global layout, but corpus-proportional
    — the round-10 probe measured ~85 s per fold at just 200k docs),
    ``"tail"`` folds only the chain dirs AFTER the first one
    (``compact_tail``): the bulk-seeded base dir stays in place and
    each fold costs only the trickle it absorbs, which is the cadence
    a 10^9-doc corpus can actually afford.
    """
    if index_layout not in ("plain", "banded"):
        raise ValueError(f"unknown index_layout: {index_layout!r}")
    if compact_mode not in ("full", "tail"):
        raise ValueError(f"unknown compact_mode: {compact_mode!r}")
    if compact_every is not None and compact_every < 2:
        raise ValueError("compact_every must be >= 2 (1 would fold every "
                         "batch — that's a full rewrite per publish, the "
                         "exact cost append chains exist to avoid)")
    banded = index_layout == "banded"
    id_col = "doc_id"
    bands_dir = bands_table_dir(index_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        corpus_done = batch_id in _published_batch_ids(corpus_dir)
        index_done = batch_id in _published_batch_ids(index_dir)
        bands_done = (not banded) or (
            batch_id in _published_batch_ids(bands_dir)
        )
        if corpus_done and index_done and bands_done:
            return  # fully committed batch redelivered: no-op

        spark = batch_df.sparkSession
        toks = batch_df.repartition(
            spark.sparkContext.defaultParallelism
        ).select(id_col, words("text").alias("_w"))
        grams = F.array_distinct(ngrams_join(F.col("_w"), n))
        shingle = F.when(F.size("_w") >= n, grams).otherwise(
            F.array(F.concat_ws(" ", "_w"))
        )
        sh_d = toks.select(id_col, shingle.alias("shingles")).persist()
        pinned = []  # batch-sized DataFrames persisted for the batch
        try:
            # the signature aggregate feeds the within-batch candidates,
            # the corpus probe and every publish: compute it once
            sigs_d = _minhash_signatures(sh_d, id_col=id_col).persist()
            pinned.append(sigs_d)
            bands_d = lsh_band_table(sigs_d, id_col=id_col)

            # (1) within-batch: LSH candidates, exact-Jaccard verify,
            # smaller id wins — drop every dominated (larger) id
            cands = candidate_pairs(bands_d, id_col=id_col)
            # dominated/matched are persisted: they are tiny (dup ids
            # only) but head the expensive LSH-probe + jaccard-verify
            # subplan, and the 2-3 publishes below each re-evaluate
            # their consumers — without the pin the verify would run
            # once per publish instead of once per batch.
            dominated = (
                _verified_pairs(cands, sh_d, sh_d, "id_a", "id_b", threshold,
                                id_col=id_col)
                .select(F.col("id_b").alias(id_col))
                .distinct()
                .persist()
            )
            pinned.append(dominated)
            survivors = batch_df.join(dominated, id_col, "left_anti")
            surviving_idx = (
                sh_d.select(id_col, "shingles")
                .join(sigs_d, id_col)
                .join(dominated, id_col, "left_anti")
            )

            # (2) vs corpus: probe the stored index — the parent state
            # until the index's own publish below, which is what makes
            # crash repair recompute the identical survivor set
            if latest_version(index_dir) is not None:
                if banded:
                    # routing: the batch's band partitions only. The
                    # collect is bounded (<=_INGEST_NPARTS ints), and
                    # the pruning happens at the PATH level
                    # (read_version_pruned): one multi-path read over
                    # exactly the matching col=value subdirs of every
                    # chain dir, so per-batch planning cost tracks the
                    # batch's bucket footprint — not the chain length,
                    # not the corpus size.
                    bparts = [
                        r["p"] for r in bands_d.select(
                            F.pmod("band_hash", F.lit(nparts))
                            .alias("p")
                        ).distinct().collect()
                    ]
                    # a crash between the index and bands publishes of
                    # the FIRST batch leaves the bands table unborn;
                    # nothing indexed can collide yet. Otherwise the
                    # pruned read is ALWAYS a DataFrame (empty with the
                    # manifest schema when no partition matched).
                    base_bands = (
                        read_version_pruned(
                            spark, bands_dir, {"bh_part": bparts}
                        ).select(F.col(id_col).alias("base_id"),
                                 "band", "band_hash")
                        if latest_version(bands_dir) is not None else None
                    )
                else:
                    base_bands = lsh_band_table(
                        read_version(spark, index_dir)
                        .select(id_col, "signature"),
                        id_col=id_col,
                    ).select(F.col(id_col).alias("base_id"),
                             "band", "band_hash")
                base_idx = None
                if base_bands is not None:
                    cand_d = (
                        bands_d.select(F.col(id_col).alias("delta_id"),
                                       "band", "band_hash")
                        .join(base_bands, ["band", "band_hash"])
                        .select("delta_id", "base_id")
                        .distinct()
                    )
                    if banded:
                        cand_d = cand_d.persist()
                        pinned.append(cand_d)
                        # verify fetch: only the candidate ids' shingle
                        # partitions (second bounded collect; empty set
                        # => nothing matched, skip the verify entirely)
                        iparts = [
                            r["p"] for r in cand_d.select(
                                F.pmod("base_id", F.lit(nparts))
                                .alias("p")
                            ).distinct().collect()
                        ]
                        # iparts empty => no candidates matched; skip
                        # the verify instead of planning an empty read
                        base_idx = (
                            read_version_pruned(
                                spark, index_dir, {"id_part": iparts}
                            )
                            if iparts else None
                        )
                    else:
                        base_idx = read_version(spark, index_dir)
                if base_idx is not None:
                    matched = (
                        _verified_pairs(cand_d, sh_d, base_idx, "delta_id",
                                        "base_id", threshold, id_col=id_col)
                        .select(F.col("delta_id").alias(id_col))
                        .distinct()
                        .persist()
                    )
                    pinned.append(matched)
                    survivors = survivors.join(matched, id_col, "left_anti")
                    surviving_idx = surviving_idx.join(matched, id_col,
                                                       "left_anti")

            # (3) publish corpus FIRST, index second, bands last; each
            # guarded by its own replay key so a crash between any two
            # repairs cleanly. append=True: each publish writes ONLY the
            # batch's survivor rows and chains the manifest's data-dir
            # list — per-batch write cost is O(|batch|), not O(|corpus
            # so far|), which is what keeps the 100-batch latency slope
            # flat (SCALE.md's sustained-replay probe measures it).
            if not corpus_done:
                write_version(survivors, corpus_dir, batch_id=batch_id,
                              append=True)
            if not index_done:
                idx_out = surviving_idx
                kwargs = {}
                if banded:
                    # repartition ON the partition column first: one
                    # file per partition value per publish, instead of
                    # (shuffle tasks x partition values) tiny files —
                    # file count is what the chain's listing cost
                    # scales with
                    idx_out = idx_out.withColumn(
                        "id_part", F.pmod(id_col, F.lit(nparts))
                    ).repartition("id_part")
                    kwargs["partition_by"] = ["id_part"]
                write_version(idx_out, index_dir, batch_id=batch_id,
                              append=True, **kwargs)
            if banded and not bands_done:
                surv_bands = bands_d.join(
                    surviving_idx.select(id_col), id_col, "left_semi"
                ).withColumn(
                    "bh_part", F.pmod("band_hash", F.lit(nparts))
                ).repartition("bh_part")
                write_version(surv_bands, bands_dir, batch_id=batch_id,
                              append=True, partition_by=["bh_part"])
            if compact_every is not None:
                # cadence check AFTER the batch commit; see the
                # docstring's crash-safety argument
                for tdir in ([corpus_dir, index_dir, bands_dir] if banded
                             else [corpus_dir, index_dir]):
                    _maybe_compact(spark, tdir, compact_every,
                                   compact_target_files, compact_mode)
        finally:
            sh_d.unpersist()
            for df in pinned:
                df.unpersist()

    return write_batch
