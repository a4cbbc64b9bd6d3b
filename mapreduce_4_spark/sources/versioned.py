"""Snapshot-versioned parquet tables — a minimal lakehouse table format
(Delta/Iceberg-shaped, dependency-free) for the maintenance operators to
target: every write is an immutable snapshot directory plus a JSON
manifest, so readers get time travel and writers get atomic publish.

Layout:

    table_dir/
      _versions/000001.json   {"version", "row_count", "schema", "parent"}
      v=000001/  ...parquet...

Commit protocol: data lands FIRST (under ``v=N/``, or under a nonce'd
``_staged/`` dir for concurrent writers), the manifest is written LAST
as a create-if-absent — a reader only sees a version once its manifest
exists, so a crashed writer leaves garbage data but never a readable
half-snapshot, and two writers can never both believe they published
the same version. Every commit path shares two functions.
``_derive_manifest`` is the one inheritance rule: a new manifest keeps
some of its parent's chain dirs by reference and carries their
stats/bloom/row-count/partition entries, deletion vector and recorded
clustering discipline (appends, copy-on-write DML and ``compact_tail``
all build on it; ``_add_dir`` adds the commit's one new dir).
``_publish`` is the one publish point: it stamps the commit and
creates the manifest if absent, raising VersionConflictError when
another writer got there first. The single-writer paths
(``write_version``, the DML, maintenance) let that error surface —
under the contract it can only mean the contract was broken;
``write_version_concurrent`` and ``commit_staged_dir`` share one
optimistic CAS retry loop (``_commit_staged``) over staged data, the
same commit protocol Iceberg/Delta run on an object store.

A commit is ONE Spark job for its data: the write. The new dir's
metadata, its ``col_stats`` (min, max, null count, integer sum) and
its bloom filters (fixed-size bitmap aggregates of the bit positions),
ride that job as a ``DataFrame.observe`` attached to the exact frame
handed to the writer, after any repartition or sort
(``_write_observed``), with the row count observed beside them. One
builder makes those aggregates (``_meta_exprs``). The observation sits
in the write job's result stage, whose accumulator updates Spark
merges once per partition however many task attempts ran, so it
counts each written row exactly once; and the publish still checks the
observed count against the footer row count, evaluating the same
aggregates in one scan of the written dir (never the input lineage)
if they differ (``_new_dir_meta``). No commit re-runs its input's
lineage, and every scan reads with the schema the manifest records,
so no footer inference job runs either.

Read planner: every read path decides which chain dirs it touches
through one function. ``_open_version`` resolves the addressed version
(number, tag, ``as_of`` or latest) and reads its manifest.
``_plan_dirs`` classifies each chain dir as ``"miss"`` (provably no
matching row: skip), ``"full"`` (provably every row matches) or
``"partial"`` (scan with the exact residual). It applies the range
proof (``_range_relation``, with the manifest's ``dir_rows``), then
window-then-bloom for each point-lookup conjunct, then, for callers
that fold full dirs from metadata, the metadata and deletion-vector
demotion. Its callers: the stats- and bloom-pruned reads scan the
non-miss dirs; ``count/sum/minmax_version`` answer full dirs from the
manifest and scan only partial ones (``_scan_partial``); copy-on-write
DML drops or rewrites dirs by the same verdicts, and a
deletion-vector delete scans only the non-miss dirs; the ``mr4ver``
DataSource plans its input partitions from it with the pure-Python
``xxh64`` bloom hash. ``_scan_dirs`` is the one manifest-pinned scan
they all read through, ``read_version`` included.

Scale: manifests are O(1) metadata; snapshots are plain parquet
directories, so reads keep pushdown/pruning, and time travel costs
nothing at write time (old snapshots are simply not deleted until
``vacuum``). Manifests optionally carry per-data-dir column
min/max/null-count (``stats_for=[...]``) plus exact per-dir row counts
(``dir_rows``, recorded from the footer read every publish already
does): ``read_version_stats_pruned`` skips whole chain dirs from
metadata alone — the Iceberg-style skipping layer above parquet's
row-group stats, carried through maintenance rewrites like any other
layout contract — and ``count_version`` answers COUNT(*) (optionally
range-bounded) from the manifest wherever coverage is provable,
scanning only boundary-straddling dirs.

Filesystem routing: every metadata operation goes through
``sources/fsio.py`` — plain ``os`` for scheme-less local paths, the
active session's Hadoop ``FileSystem`` (py4j) for scheme'd paths
(``file://``, ``hdfs://``, ``s3a://``, ...), so manifests live on the
same store as the data on any deployment. The ``file://`` scheme is the
in-repo proof path: the round-trip/crash-repair/ingest suites run
through it (tests/test_sources_sinks.py, tests/test_streaming_ingest.py)
exercising exactly the code a remote scheme runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from mapreduce_4_spark.sources import fsio


class VersionConflictError(RuntimeError):
    """Another writer published the version this writer was about to.

    Raised by the single-writer publish paths (write_version,
    compact_tail) when their manifest CAS loses — under the documented
    single-writer contract that can only mean the contract was broken,
    and a loud error beats the silent manifest overwrite (= data loss)
    it replaces. ``write_version_concurrent`` catches the same losing
    CAS internally and retries against the new parent instead."""


class KeyBudgetError(ValueError):
    """A copy-on-write key set exceeded its ``max_keys`` driver budget.

    Raised by the manifest-classified mutations (``*_version_pruned``,
    ``delete_version_dv``), which collect their keys on the driver.
    Callers that can afford one classification scan catch it and route
    to the join-classified ``*_version_joined`` twins, which never
    collect the keys (``streaming.foreach_batch.versioned_merge_sink``
    does exactly that)."""


def _versions_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_versions")


def _staged_rel(nonce: str) -> str:
    return os.path.join("_staged", nonce)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_versions_dir(table_dir), f"{version:06d}.json")


def _data_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version:06d}")


def list_versions(table_dir: str) -> list[int]:
    return sorted(
        int(f.split(".")[0])
        for f in fsio.listdir(_versions_dir(table_dir))
        if f.endswith(".json")
    )


def latest_version(table_dir: str) -> int | None:
    versions = list_versions(table_dir)
    return versions[-1] if versions else None


def _catalog_name(table_dir: str, version: int, nonce: str = "") -> str:
    """Session-catalog name for a bucketed snapshot. ``nonce`` is the
    per-write token recorded in the manifest: deriving the name from it
    (not just the path) means a table dir that is deleted and recreated
    at the same path — version numbering restarting at 1 — can never
    rebind to a stale catalog entry carrying the OLD schema/bucket spec."""
    canonical = table_dir if "://" in table_dir else os.path.abspath(table_dir)
    digest = hashlib.md5(
        (canonical + ":" + nonce).encode()
    ).hexdigest()[:12]
    return f"mr4s_bucketed_{digest}_v{version:06d}"


#: column types whose min/max serialize to JSON with ORDER-PRESERVING
#: comparison semantics: numerics compare as numbers; date/timestamp
#: cast to their canonical strings, whose lexicographic order equals
#: time order. DECIMAL is deliberately absent (its string order is not
#: numeric order, and rounding it to float could round a true min UP —
#: an unsound skip); cast to double first if approximate stats suffice.
_STATS_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double",
                "string", "date", "timestamp", "timestamp_ntz"}


#: stats column types whose per-dir SUM is recorded too (4th entry):
#: integer sums re-associate exactly, so folding dir sums equals the
#: full-scan sum bit-for-bit. Float/string/date columns stay 3-element
#: — a pre-aggregated double sum would differ from a direct scan in
#: association order, which the format refuses to paper over.
_SUMMABLE_TYPES = {"tinyint", "smallint", "int", "bigint"}


#: bloom hash functions per value (positions = pmod(xxhash64(seed, col),
#: bits) for seed in range(k)). 4 keeps the false-positive rate at
#: fill^4 — e.g. ~4e-4 at 14% fill — while the build stays k bounded
#: bitmap aggregates per 2^15 bits per column, observed on the write.
_BLOOM_K = 4

#: log2 of the bits one ``bitmap_construct_agg`` covers (Spark's fixed
#: 4 KiB bitmap of positions [0, 32768)): a bloom's bitset is bits/2^15
#: of them per seed, laid end to end and OR-ed over the seeds
_BITMAP_SHIFT = 15


def _bloom_positions_col(col: str, bits: int):
    """Array column of the _BLOOM_K bit positions for ``col``'s value —
    the ONE definition both the build and the probe evaluate (JVM-side
    xxhash64 on the native column type), so membership can never drift
    between writer and reader."""
    from pyspark.sql import functions as F

    return F.array(*[
        F.pmod(F.xxhash64(F.lit(seed), F.col(col)), F.lit(bits))
        for seed in range(_BLOOM_K)
    ])


def _meta_sets(m: dict) -> tuple:
    """The metadata a manifest records per chain dir:
    ``(stats_for, bloom_for, bloom_bits)``."""
    bloom_for = tuple(m.get("bloom_for") or ())
    return (tuple(m.get("stats_for") or ()), bloom_for,
            m.get("bloom_bits") if bloom_for else None)


def _meta_exprs(dtypes: dict, sets: tuple) -> tuple[dict, list]:
    """The ONE builder of a chain dir's metadata for ``sets``
    (``_meta_sets``; ``dtypes``: the frame's column -> type name):
    ``(inputs, aggs)``, the named per-row columns the aggregates read
    and the aggregate expressions. Both evaluation sites use it: the
    observation on a commit's write job (``_write_observed``) and one
    aggregate over an existing dir (``_scan_meta``); ``_meta_from_row``
    reads the result back. The inputs are a projection (hashed once
    per row and seed, codegen'd) because an aggregate evaluates its
    own input interpreted: k * bits / 2^15 aggregates each re-hashing
    the value made a 2^17-bit build 2.6x slower.

    - ``col_stats``: min, max, null count and, for integer columns, the
      sum. Only ``_STATS_TYPES`` have an order-preserving JSON form.
    - ``bloom``: per column, one ``bitmap_construct_agg`` per seed and
      2^15-bit slice of the bitset, fed the slice's bit of the value's
      ``_bloom_positions_col`` position. Only non-null values are
      inserted (a point lookup ``col = v`` can never match a null).
      Buffers and result are bounded by ``bits`` (k * bits / 8 bytes
      per column), never by the row count."""
    from pyspark.sql import functions as F

    stats_for, bloom_for, bits = sets
    inputs, aggs = {}, []
    for c in stats_for:
        t = dtypes.get(c)
        if t not in _STATS_TYPES:
            raise ValueError(
                f"col_stats on {c!r}: type {t!r} has no order-preserving "
                f"JSON form (supported: {sorted(_STATS_TYPES)}) — cast "
                "first"
            )
        mn, mx = F.min(c), F.max(c)
        if t in ("date", "timestamp", "timestamp_ntz"):
            mn, mx = mn.cast("string"), mx.cast("string")
        nulls = F.sum(F.col(c).isNull().cast("long"))
        aggs += [mn.alias(f"mn_{c}"), mx.alias(f"mx_{c}"),
                 nulls.alias(f"nu_{c}")]
        if t in _SUMMABLE_TYPES:
            aggs.append(F.sum(F.col(c).cast("bigint")).alias(f"su_{c}"))
    if bloom_for and bits % 8:
        raise ValueError("bloom_bits must be a multiple of 8")
    for i, c in enumerate(bloom_for):
        ps = _bloom_positions_col(c, bits)
        for seed in range(_BLOOM_K):
            p = F.when(F.col(c).isNotNull(), ps[seed])
            for b in range(-(-bits >> _BITMAP_SHIFT)):
                name = f"__mr4_bm{i}_{seed}_{b}"
                inputs[name] = F.when(F.shiftright(p, _BITMAP_SHIFT) == b,
                                      p % (1 << _BITMAP_SHIFT))
                aggs.append(F.bitmap_construct_agg(name).alias(name))
    return inputs, aggs


def _meta_from_row(row, dtypes: dict, sets: tuple) -> tuple:
    """``(col_stats, bloom)`` entries from one evaluated row (or
    observed-metrics dict) of ``_meta_exprs``; None for an empty set.

    A stats entry is ``[min, max, null_count(, sum)]``. All-null/empty
    input yields [None, None, n(, None)], which range readers treat as
    'unknown' (scan, never skip). The null count is what lets
    ``count_version`` answer a range COUNT from metadata alone (min/max
    ignore nulls, so a dir whose recorded range sits fully inside the
    requested bounds still is not fully COUNTABLE unless it provably
    holds zero nulls); the sum — recorded for integral columns only,
    where re-association is exact — is ``sum_version``'s source the
    same way. Manifests written before these fields carry 2-element
    entries; readers treat the missing fields as unknown (never fully
    countable/summable, still skippable/scannable as before).

    A bloom entry is ``{"bits", "k", "b64"}``: bit p of the bitset is
    bit p % 8 of byte p // 8."""
    import base64

    stats_for, bloom_for, bits = sets
    stats, bloom = {}, {}
    for c in stats_for:
        ent = [row[f"mn_{c}"], row[f"mx_{c}"], int(row[f"nu_{c}"] or 0)]
        if dtypes.get(c) in _SUMMABLE_TYPES:
            s = row[f"su_{c}"]
            ent.append(int(s) if s is not None else None)
        stats[c] = ent
    for i, c in enumerate(bloom_for):
        acc = 0
        for seed in range(_BLOOM_K):
            for b in range(-(-bits >> _BITMAP_SHIFT)):
                acc |= int.from_bytes(row[f"__mr4_bm{i}_{seed}_{b}"],
                                      "little") << (b << _BITMAP_SHIFT)
        bloom[c] = {"bits": bits, "k": _BLOOM_K, "b64": base64.b64encode(
            acc.to_bytes(bits // 8, "little")).decode("ascii")}
    return stats or None, bloom or None


def _scan_meta(df: DataFrame, sets: tuple) -> tuple:
    """``(col_stats, bloom)`` for ``sets`` from ONE aggregate over
    ``df`` — a scan of an existing dir (``analyze_table`` backfills,
    ``fsck_table``'s deep check, a publish whose write-job observation
    is unusable). A publish normally records the same entries without
    any scan: ``_write_observed`` evaluates the same ``_meta_exprs`` on
    the write job itself."""
    dtypes = dict(df.dtypes)
    inputs, aggs = _meta_exprs(dtypes, sets)
    row = df.select("*", *[x.alias(n) for n, x in inputs.items()]) \
        .agg(*aggs).first()
    return _meta_from_row(row, dtypes, sets)


#: the observed row count's name in a write job's observation
_OBS_ROWS = "__mr4_rows"


def _write_observed(df: DataFrame, sets: tuple, write):
    """Run ``write(frame)`` with ``frame`` = ``df`` observing its row
    count and the ``_meta_exprs`` of ``sets`` — the dir's stats and
    blooms come from the write job itself, with no second pass over
    ``df``'s lineage and no read-back of the written files (the bloom
    inputs are projected in and dropped again before the writer).
    Returns ``(observed_rows, sets, col_stats, bloom)``, or None when
    nothing was observed (empty ``sets``, or Spark reported no
    metrics).

    ``df`` must be the exact frame handed to the writer, after any
    repartition or sort: the observation then sits in the write job's
    RESULT stage. Spark merges a result task's accumulator updates
    once per partition, whatever retries or speculative copies ran, so
    the observed aggregates count every written row exactly once (an
    observation placed before a shuffle would sit in a map stage,
    which a fetch failure can re-run and count twice). The caller
    still compares ``observed_rows`` with the footer row count and
    scans the written dir when they differ (``_new_dir_meta``)."""
    if not (sets[0] or sets[1]):
        write(df)
        return None
    dtypes = dict(df.dtypes)
    inputs, aggs = _meta_exprs(dtypes, sets)
    got = _observe_write(df, aggs, write, inputs)
    return got and (got[_OBS_ROWS], sets,
                    *_meta_from_row(got, dtypes, sets))


def _observe_write(df: DataFrame, exprs: list, write,
                   inputs: dict | None = None):
    """Run ``write(frame)`` with ``frame`` = ``df`` observing its row
    count (``_OBS_ROWS``) and the aggregate ``exprs`` over ``df`` plus
    the per-row ``inputs`` (dropped again before the writer); the
    observed Row, or None when Spark reported no metrics. ``df`` must
    be the exact frame handed to the writer (``_write_observed``)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    if inputs:  # a stats-only observation adds no projection
        df = df.select("*", *[x.alias(n) for n, x in inputs.items()])
    frame = df.observe(obs, F.count(F.lit(1)).alias(_OBS_ROWS), *exprs)
    write(frame.drop(*inputs) if inputs else frame)
    # the metrics are set when the write action returns; never block
    # on them (Observation.get waits forever if a plan dropped them)
    if obs._jo.getRowOrEmpty().isEmpty():
        return None
    return obs.get


def _parquet_write(path: str, partition_by: list[str] | None):
    """``_write_observed``'s ``write`` for a plain or hive-partitioned
    chain dir at ``path`` (refusing to write over an existing one)."""
    def write(frame):
        writer = frame.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    return write


def _new_dir_meta(spark: SparkSession, m: dict, data_dir: str, rows: int,
                  observed) -> tuple:
    """The ``(col_stats, bloom)`` entries of the dir a commit just wrote
    at ``data_dir`` (``rows``: its footer row count) for the derived
    manifest ``m``'s column sets; None for a set ``m`` does not carry.
    They are the write job's observation (``_write_observed``) when it
    counted exactly the footer rows for exactly ``m``'s sets. Otherwise
    (a miscount, or a concurrent commit landing on a head that wants
    other columns) one ``_scan_meta`` aggregate over the written dir,
    read through the manifest-pinned ``_scan_dirs``, builds them: no
    commit re-executes its input lineage."""
    sets = _meta_sets(m)
    if not (sets[0] or sets[1]):
        return None, None
    if observed and observed[:2] == (rows, sets):
        return observed[2:]
    return _scan_meta(_scan_dirs(spark, m, [data_dir]), sets)


def _zorder_col(df: DataFrame, cols: list[str], bits: int):
    """The Morton (Z-order) clustering key for ``cols``: each column is
    range-quantized to ``bits`` buckets from its OWN min/max (one tiny
    aggregate over ``df``, same cost class as ``_scan_meta``), then
    the bucket bits interleave — bit i of column j lands at position
    i*len(cols)+j. One sort order over this key keeps every written
    file's span narrow in EVERY dimension, which is what lets parquet
    footer min/max (and dir-level stats on chains) skip on predicates
    over any of the columns — the OPTIMIZE ZORDER layout as a
    write_version knob. Nulls quantize to bucket 0 (first files),
    non-numeric columns hash-bucket instead (locality within equal
    values only, the honest fallback)."""
    from pyspark.sql import functions as F

    # try_cast, not cast: under ANSI (the Spark 4 default) a plain cast
    # THROWS on non-numeric strings instead of yielding the nulls the
    # fallback below keys on
    row = df.agg(*[
        expr for c in cols for expr in (
            F.min(F.col(c).try_cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).try_cast("double")).alias(f"mx_{c}"),
            F.max(F.col(c).isNotNull()).alias(f"nn_{c}"),
        )
    ]).first()
    top = (1 << bits) - 1
    zval = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        if (mn is None or mx is None) and row[f"nn_{c}"]:
            # the documented non-numeric fallback: the column has values
            # but none cast to double (string/binary), so range
            # quantization is undefined — hash-bucket instead (locality
            # within equal values only); nulls still land in bucket 0
            bucket = F.when(
                F.col(c).isNull(), F.lit(0).cast("bigint")
            ).otherwise(F.pmod(F.xxhash64(F.col(c)), F.lit(top + 1))
                        .cast("bigint"))
        elif mn is None or mx is None or not (mx > mn):
            bucket = F.lit(0).cast("bigint")
        else:
            scaled = (F.col(c).try_cast("double") - F.lit(float(mn))) \
                / F.lit(float(mx - mn)) * F.lit(float(top))
            bucket = F.coalesce(
                F.least(F.greatest(F.floor(scaled), F.lit(0)),
                        F.lit(top)).cast("bigint"),
                F.lit(0).cast("bigint"))
        for i in range(bits):
            zval = zval + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(1),
                i * len(cols) + j)
    return zval


def _check_append(pm: dict, new_schema, partition_by, table_dir: str) -> bool:
    """Validate an append onto the parent manifest ``pm``; returns True
    when the append ADDITIVELY evolves the chain's schema (the new rows
    carry every parent column, same names/types/positions, plus new
    columns appended at the end — read as typed nulls from
    pre-evolution dirs).

    Bucketed parents refuse appends outright: bucketing is a
    CORRECTNESS contract (exchange-free joins assume every row hashed
    into its bucket file), not a skipping heuristic. Hive partitioning
    must match the chain's exactly (each chain dir is partitioned
    independently, so one scheme must hold for all of them).

    Any other schema drift is refused LOUDLY: a plain multi-path parquet scan
    silently resolves mixed file schemas from whichever file it samples
    first, so renames, type changes, drops, and reorders would corrupt
    without error — those still require a full snapshot (append=False).
    Additive evolution is the one shape the read paths can null-pad
    soundly (``_conform_to_schema``, the same typed-null padding the
    CDC feed applies), which is why it alone is allowed — at 100 TB
    "add a nullable column" must not cost a table rewrite. Nullability
    is ignored (a parquet scan never yields non-nullable columns).
    Hive partition columns are excluded from the positional rule (their
    struct position is a write-layout artifact — discovery re-appends
    them at the end anyway) but must themselves be identical: a
    partition column can never be added or retyped on a chain."""
    from pyspark.sql.types import StructType

    if pm.get("bucket_by"):
        raise ValueError(
            "cannot append to a bucketed snapshot; compact() first"
        )
    if (pm.get("partition_by") or None) != (partition_by or None):
        raise ValueError(
            "append partitioning must match the chain: parent has "
            f"partition_by={pm.get('partition_by')!r}, append got "
            f"{partition_by!r}"
            + ("" if partition_by else
               " (the mr4ver writer stages flat files — append to a "
               "hive-partitioned chain with write_version(partition_by="
               "...))")
        )
    part = set(pm.get("partition_by") or [])

    def _fields(schema_fields):
        pairs = [(f.name, f.dataType.simpleString()) for f in schema_fields]
        return ([x for x in pairs if x[0] not in part],
                sorted(x for x in pairs if x[0] in part))

    want, want_part = _fields(StructType.fromJson(pm["schema"]).fields)
    got, got_part = _fields(new_schema.fields)
    if want_part == got_part:
        if want == got:
            return False
        if len(got) > len(want) and got[:len(want)] == want:
            return True
    raise ValueError(
        f"append schema must match the chain in {table_dir} (or extend "
        f"it with new non-partition columns appended at the END): parent "
        f"manifest has {want} partitioned by {want_part}, append got "
        f"{got} partitioned by {got_part} — publish a full snapshot "
        "(append=False) for any non-additive evolution"
    )


def _backfill_all_null_stats(parent_stats: dict, parent_dir_rows: dict,
                             parent_fields: set, stats_for: list[str],
                             dtypes: dict) -> None:
    """At the moment an append evolves the chain schema, record the one
    fact evolution proves about every PRE-EVOLUTION dir: a column that
    did not exist there reads as all-null. Each old dir with a known
    row count gets a [None, None, dir_rows(, None)] stats entry for
    each brand-new stats column, so the metadata aggregates stay
    metadata-only across evolution — COUNT(col)/AVG see dir_rows nulls
    (zero non-null rows), bounded COUNT/SUM classify the dir a provable
    'miss', MIN/MAX skip it — instead of degrading every old dir to a
    scan for lack of stats. Mutates ``parent_stats`` in place; recorded
    once here, then inherited down the chain like any other entry.
    Only columns ABSENT from the parent schema qualify (an existing
    column that merely lacks stats stays unknown: scan, never guess)."""
    for d, n_d in parent_dir_rows.items():
        if n_d is None:
            continue
        ent_map = dict(parent_stats.get(d) or {})
        for c in stats_for:
            if c in parent_fields or c in ent_map:
                continue
            e: list = [None, None, n_d]
            if dtypes.get(c) in _SUMMABLE_TYPES:
                e.append(None)
            ent_map[c] = e
        parent_stats[d] = ent_map

# ---------------------------------------------------------------------------
# The commit path
#
# Every commit is built from its parent by ONE inheritance rule
# (_derive_manifest, plus _add_dir for the commit's one new chain dir)
# and published by ONE function (_publish). Commits whose content is
# the parent's (analyze, deletion vectors, restore) re-spread
# _inherited_manifest instead, and publish the same way.
#
# Manifest fields, for reference:
# - version / parent; committed_at: publish wall-clock (UTC epoch
#   seconds), what timestamp AS-OF time travel resolves against
#   (version_at) — stamped by _publish on every attempt, so a CAS
#   retry records when the commit actually landed; nonce: per-write token — catalog names derive from
#   it, so a recreated table dir never aliases a previous
#   incarnation's entry; batch_id: exactly-once provenance for
#   streaming sinks (streaming/foreach_batch.py); operation: what
#   produced the commit (DESCRIBE HISTORY's column; callers override
#   it via manifest_extra).
# - row_count, schema; bucket_by / n_buckets / sort_by / zorder_by /
#   zorder_bits / partition_by: the layout, or for chains the RECORDED
#   clustering discipline.
# - data_dirs: every chain dir (relative) this version reads; None for
#   full snapshots. schema_evolved: True once an additive append
#   evolved the chain (readers merge file schemas and null-pad to the
#   manifest schema); cleared by any full snapshot (compact/replace).
# - stats_for / col_stats: per-dir min/max/nulls(/sum) for metadata
#   skipping; bloom_for / bloom_bits / bloom: per-dir bloom filters for
#   point lookups; dir_rows: per-dir exact row counts (count_version's
#   metadata source); dir_parts: per-dir partition-subdir index
#   (read_version_pruned's listing-free probe); dv: the deletion
#   vector (merge-on-read deletes) — full snapshots start clean, their
#   content was read live.
# ---------------------------------------------------------------------------


def _chain_dirs(manifest: dict) -> list[str]:
    """The relative data dirs a manifest reads (a full snapshot reads
    its own version dir)."""
    return manifest.get("data_dirs") or [f"v={manifest['version']:06d}"]


def _hive_parts(data_dir: str) -> list[str]:
    """The partition-subdir index of a dir just written — ONE listing,
    O(new dir), so pruned probes pay zero FS listings per chain dir."""
    return sorted(e for e in fsio.listdir(data_dir) if "=" in e)


def _derive_manifest(pm: dict | None, kept: list[str], schema=None,
                     evolved: bool = False,
                     stats_for: list[str] | None = None) -> dict:
    """The inheritance rule: the manifest a commit starts from when it
    keeps the chain dirs ``kept`` of parent manifest ``pm`` BY
    REFERENCE (``pm=None``: a fresh snapshot, nothing inherited).
    Appends (all three writers), copy-on-write DML and compact_tail's
    fold all build on it, then add their one new dir with ``_add_dir``.

    - Per-dir metadata (``col_stats``, ``bloom``, ``dir_rows``,
      ``dir_parts``) is restricted to the kept dirs, and so is the
      deletion vector: entries for dropped/rewritten dirs disappear
      (their files left the manifest, so their sidecar entries can
      never match a live scan row again — stale rows are harmless and
      the next compaction retires the sidecar), and a DV with nothing
      left is released to vacuum. A DV-carrying parent must keep it:
      dropping it would resurrect deleted rows on the next append.
    - Table-level contracts carry whole: schema, partitioning, the
      stats/bloom column sets and the recorded sort/zorder discipline
      (round 12: a new dir lands unclustered — clustering a trickle is
      write churn — so the layout decays only in the unfolded tail,
      and compact_tail's fold re-applies the discipline). Bucketing
      never carries: no dir-granular commit accepts a bucketed parent.
    - ``schema_evolved`` survives only while kept dirs remain: new dirs
      are written manifest-conformed, so only kept dirs can predate an
      evolution.

    Appends pass the appended rows' ``schema``, whether it ``evolved``
    the chain (``_check_append``) and an explicit ``stats_for`` (None =
    the chain's columns: a stats-carrying chain keeps collecting). An
    evolving append backfills the kept dirs' all-null stats for
    brand-new stats columns (``_backfill_all_null_stats``)."""
    pm = pm or {}
    keep = set(kept)

    def _only(per_dir) -> dict:
        return {d: x for d, x in (per_dir or {}).items() if d in keep}

    if stats_for is None:
        stats_for = pm.get("stats_for")
    col_stats = _only(pm.get("col_stats"))
    dir_rows = _only(pm.get("dir_rows"))
    if evolved and stats_for:
        _backfill_all_null_stats(
            col_stats, dir_rows, {f["name"] for f in pm["schema"]["fields"]},
            stats_for,
            {f.name: f.dataType.simpleString() for f in schema.fields},
        )
    dv = pm.get("dv")
    dv_counts = {d: n for d, n in _only((dv or {}).get("dir_counts")).items()
                 if n}
    bloom_for = pm.get("bloom_for")
    return {
        "schema": (schema.jsonValue() if schema is not None
                   else pm.get("schema")),
        "bucket_by": None,
        "n_buckets": None,
        "sort_by": pm.get("sort_by"),
        "zorder_by": pm.get("zorder_by"),
        "zorder_bits": pm.get("zorder_bits") if pm.get("zorder_by") else None,
        "partition_by": pm.get("partition_by") or None,
        "data_dirs": list(kept),
        "schema_evolved": (
            True if kept and (evolved or pm.get("schema_evolved")) else None),
        "stats_for": stats_for,
        "col_stats": col_stats or None,
        "bloom_for": bloom_for,
        "bloom_bits": ((pm.get("bloom_bits") or (1 << 17)) if bloom_for
                       else None),
        "bloom": _only(pm.get("bloom")) or None,
        "dir_rows": dir_rows,
        "dir_parts": _only(pm.get("dir_parts")) or None,
        "dv": ({"path": dv["path"], "count": sum(dv_counts.values()),
                "dir_counts": dv_counts} if dv_counts else None),
    }


def _add_dir(m: dict, rel: str, rows: int, stats: dict | None = None,
             bloom: dict | None = None,
             parts: list[str] | None = None) -> None:
    """Add a commit's one NEW chain dir ``rel`` to a derived manifest:
    its exact row count (from the footers just written), its
    stats/bloom entries when collected, and — on partitioned tables —
    its partition-subdir index."""
    m["data_dirs"] = m["data_dirs"] + [rel]
    m["dir_rows"] = {**m["dir_rows"], rel: rows}
    if stats is not None:
        m["col_stats"] = {**(m["col_stats"] or {}), rel: stats}
    if bloom is not None:
        m["bloom"] = {**(m["bloom"] or {}), rel: bloom}
    if m["partition_by"]:
        m["dir_parts"] = {**(m["dir_parts"] or {}), rel: parts}


def _publish(table_dir: str, manifest: dict, retry_hint: str) -> int:
    """The publish point of every commit, and the only place a manifest
    file is written: stamp the commit time (and a fresh nonce unless
    the writer recorded its own), then create the version's manifest
    if absent. Data always landed first, so a reader only sees a
    version once it is whole. Losing the create-if-absent raises
    VersionConflictError (``retry_hint`` tells the caller what to
    redo) — a loud error instead of the silent manifest overwrite
    (= data loss) it replaces; ``_commit_staged``'s CAS loop catches it
    and retries against the new head."""
    version = manifest["version"]
    manifest = {"nonce": uuid.uuid4().hex[:12], **manifest,
                "committed_at": time.time()}
    fsio.mkdirs(_versions_dir(table_dir))
    if not fsio.create_text_exclusive(
            _manifest_path(table_dir, version), json.dumps(manifest)):
        raise VersionConflictError(
            f"version {version} of {table_dir} was published "
            f"concurrently — {retry_hint}"
        )
    return version


def _write_base(table_dir: str, parent: int | None, append: bool, schema,
                partition_by: list[str] | None,
                stats_for: list[str] | None) -> dict:
    """The derived manifest a WRITE starts from: an append onto an
    existing ``parent`` is validated (``_check_append``) and keeps every
    parent dir; anything else starts fresh. ``row_count`` is the
    parent's, for the caller to add its new rows to."""
    pm = (read_manifest(table_dir, parent)
          if append and parent is not None else None)
    if pm is None:
        m = _derive_manifest(None, [], schema=schema, stats_for=stats_for)
    else:
        m = _derive_manifest(
            pm, _chain_dirs(pm), schema=schema,
            evolved=_check_append(pm, schema, partition_by, table_dir),
            stats_for=stats_for)
    m.update(partition_by=partition_by,
             row_count=pm["row_count"] if pm else 0)
    return m


def _commit_staged(table_dir: str, staged_rel: str, schema, new_rows: int,
                   append: bool, operation: str, batch_id=None,
                   max_retries: int = 20,
                   skip_if_batch_id_published: bool = False,
                   partition_by: list[str] | None = None,
                   parts: list[str] | None = None,
                   stats_for: list[str] | None = None,
                   dir_meta=None, nonce: str | None = None,
                   manifest_extra: dict | None = None) -> int | None:
    """The optimistic-concurrency commit loop shared by
    ``write_version_concurrent`` and ``commit_staged_dir``: per
    attempt, re-read the head, derive a manifest referencing the
    staged dir (plus the parent chain for appends) and publish it.
    Losing the CAS costs one manifest round trip and a retry against
    the winner's snapshot; the staged data stands.

    ``parts`` is the staged dir's partition index; ``dir_meta(m)``
    returns its ``(stats, bloom)`` entries for the derived manifest's
    column sets (None: the staged dir gets none — readers degrade
    soundly, ``analyze_table`` backfills)."""
    for _attempt in range(max_retries + 1):
        parent = latest_version(table_dir)
        if skip_if_batch_id_published and batch_id is not None \
                and batch_id in published_batch_ids(table_dir):
            return None
        m = _write_base(table_dir, parent, append, schema, partition_by,
                        stats_for)
        stats, bloom = dir_meta(m) if dir_meta else (None, None)
        _add_dir(m, staged_rel, new_rows, stats, bloom, parts)
        m.update(version=(parent or 0) + 1, parent=parent,
                 row_count=m["row_count"] + new_rows,
                 batch_id=batch_id, operation=operation,
                 **({"nonce": nonce} if nonce else {}))
        m.update(manifest_extra or {})
        try:
            return _publish(table_dir, m, "retrying")
        except VersionConflictError:
            continue  # someone else published this version: re-read
    raise VersionConflictError(
        f"lost the manifest CAS {max_retries + 1} times on {table_dir} — "
        "contention this hot needs a coordination layer, not more retries"
    )


def write_version(df: DataFrame, table_dir: str,
                  bucket_by: list[str] | None = None,
                  n_buckets: int | None = None,
                  sort_by: list[str] | None = None,
                  zorder_by: list[str] | None = None,
                  zorder_bits: int = 8,
                  n_files: int | None = None,
                  partition_by: list[str] | None = None,
                  batch_id: int | None = None,
                  manifest_extra: dict | None = None,
                  append: bool = False,
                  stats_for: list[str] | None = None,
                  bloom_for: list[str] | None = None,
                  bloom_bits: int = 1 << 17) -> int:
    """Publish a new immutable snapshot; returns its version number.

    With ``bloom_for=[cols]``, the manifest additionally records a
    per-data-dir BLOOM filter over each column's non-null values
    (``bloom_bits`` bits, default 2^17 = 16 KiB per column per dir;
    built by bounded bitmap aggregates observed on the write job
    beside the stats, so a bloom costs the commit no extra Spark job).
    ``read_version_bloom_pruned`` then serves point lookups
    (``col IN (values)``) by skipping every chain dir whose bloom
    provably misses all probe values — the pruning min/max stats
    cannot do when the column is UNSORTED across the chain (dedup doc
    ids, user ids: every dir's [min, max] spans the keyspace, but each
    dir's bloom only contains its own keys). False positives cost a
    wasted dir scan, never a wrong row (the exact IN filter is always
    applied); like ``stats_for``, the columns are inherited down
    append chains and carried through maintenance rewrites.

    With ``bucket_by``/``n_buckets``, the snapshot is hash-bucketed (and
    sorted within buckets by ``sort_by``, defaulting to the bucket keys).
    A bucketed fact table written ONCE this way makes every later
    equi-join/aggregation on the bucket keys exchange-free — the 100 TB
    alternative to re-shuffling the fact table per query. The bucket
    spec is recorded in the manifest so any session can rebind it.

    With ``sort_by`` alone, the snapshot is CLUSTERED: range-partitioned
    across ``n_files`` files (default: the session's shuffle
    parallelism) and sorted within each, so every file covers a narrow,
    near-disjoint range of the sort keys. Parquet min/max footer stats
    then let any engine skip whole files/row-groups on selective
    sort-key predicates — the 1-D form of what OPTIMIZE ZORDER does in
    lakehouse formats, and the layout knob that turns a full-corpus scan
    into a targeted one at 100 TB.

    With ``partition_by``, the snapshot is hive-partitioned on those
    columns: static filters prune whole directories at planning time,
    and joins against a filtered dimension prune them at RUNTIME via
    dynamic partition pruning (plan-asserted in tests/test_dpp.py) —
    the other half of the layout story beside bucketing/clustering.

    With ``append=True``, ``df`` holds only the NEW rows: they land
    under ``v=N/`` as usual, but the manifest records the full data-dir
    LIST (parent's dirs + this one) and ``read_version`` unions the
    listed dirs — the Iceberg/Delta transaction-log move that turns a
    long-running streaming append from an O(total) rewrite per batch
    into an O(batch) write. Readers still see each version as one
    immutable snapshot; time travel is unchanged. ``compact`` naturally
    resets the chain (it publishes a full snapshot), and ``vacuum``
    only removes a data dir once no retained manifest references it.
    Appends never take explicit bucket/cluster layout args, and a
    BUCKETED base refuses appends outright (bucketing is a correctness
    contract: exchange-free joins assume every row hashed into its
    bucket file). A SORTED or Z-ORDERED base, however, accepts appends
    (round 12): the chain manifest keeps RECORDING the base's
    ``sort_by``/``zorder_by`` discipline while each appended dir lands
    unclustered — clustering a trickle batch is write churn — so the
    layout decays only in the unfolded tail. ``compact_tail``
    re-applies the recorded discipline when it folds (the
    layout-preserving fold), and ``compact``/``table cluster``
    re-establish it whole-table. ``append=True`` MAY be combined with
    ``partition_by`` when every version in the chain uses the SAME
    partition columns: hive partitioning is per-directory, so each
    appended version dir is partitioned independently and a partition
    filter prunes directories inside every chain dir. This is the
    standing layout a streaming index wants (see streaming/ingest.py's
    band_hash-partitioned signature index): O(|batch|) writes AND a
    probe that touches only the batch's partitions of the whole chain.

    With ``stats_for=[cols]``, the manifest records per-data-dir
    min/max/null count (and integer sums) for those columns — observed
    on the write job itself (``_write_observed``), so collecting them
    costs no extra Spark job and never re-runs ``df``'s lineage — and
    ``read_version_stats_pruned`` skips whole
    chain dirs whose range provably misses a predicate — the
    Iceberg-style metadata-skipping layer above parquet's own
    row-group stats. Appends INHERIT the chain's stats columns when
    ``stats_for`` is not given, so a stats-carrying chain keeps
    collecting without every caller replumbing it; maintenance
    rewrites carry stats through ``layout_from_manifest`` like any
    other layout contract.
    """
    if (bucket_by is None) != (n_buckets is None):
        raise ValueError("bucket_by and n_buckets must be given together")
    if partition_by and bucket_by:
        raise ValueError("partition_by cannot be combined with bucket_by")
    if zorder_by and (bucket_by or sort_by or partition_by):
        raise ValueError(
            "zorder_by is a whole-table clustered layout — it cannot "
            "combine with bucket_by/sort_by/partition_by"
        )
    if zorder_by and len(zorder_by) < 2:
        raise ValueError(
            "zorder_by needs >= 2 columns (one column wants sort_by)"
        )
    if append and (bucket_by or sort_by or zorder_by):
        raise ValueError(
            "append snapshots carry no bucket/cluster layout — "
            "compact() to re-establish one"
        )
    parent = latest_version(table_dir)
    version = (parent or 0) + 1
    m = _write_base(table_dir, parent, append, df.schema, partition_by,
                    stats_for)
    if not (append and parent is not None):
        # a fresh snapshot RECORDS its own layout as the discipline; an
        # append inherits the base's (_derive_manifest)
        m.update(bucket_by=bucket_by, n_buckets=n_buckets,
                 sort_by=(sort_by or bucket_by) if bucket_by else sort_by,
                 zorder_by=zorder_by,
                 zorder_bits=zorder_bits if zorder_by else None)
    if bloom_for is not None:  # explicit bloom columns beat the chain's
        m.update(bloom_for=bloom_for,
                 bloom_bits=bloom_bits if bloom_for else None)
    data_dir = _data_dir(table_dir, version)
    _reclaim_torn_write(table_dir, version)
    nonce = uuid.uuid4().hex[:12]
    if bucket_by:
        sort_cols = sort_by or bucket_by
        observed = _write_observed(
            df, _meta_sets(m),
            lambda frame: frame.write.mode("errorifexists")
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*sort_cols)
            .option("path", data_dir)
            .format("parquet")
            .saveAsTable(_catalog_name(table_dir, version, nonce)))
    else:
        if sort_by:
            n = n_files or df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"
            )
            df = df.repartitionByRange(int(n), *sort_by).sortWithinPartitions(
                *sort_by
            )
        elif zorder_by:
            n = n_files or df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"
            )
            df = (
                df.withColumn("__mr4_zval",
                              _zorder_col(df, zorder_by, zorder_bits))
                .repartitionByRange(int(n), "__mr4_zval")
                .sortWithinPartitions("__mr4_zval")
                .drop("__mr4_zval")
            )
        observed = _write_observed(df, _meta_sets(m),
                                   _parquet_write(data_dir, partition_by))
    # exact count from the footers just written — no second data scan
    # (append: parent's manifest count + the new dir's footers)
    new_rows = fsio.parquet_row_count(data_dir)
    _add_dir(m, f"v={version:06d}", new_rows,
             *_new_dir_meta(df.sparkSession, m, data_dir, new_rows, observed),
             _hive_parts(data_dir) if partition_by else None)
    if not append:
        m["data_dirs"] = None  # a full snapshot reads its own dir
    m.update(version=version, parent=parent,
             row_count=m["row_count"] + new_rows,
             batch_id=batch_id, nonce=nonce,
             operation="append" if append else "replace")
    m.update(manifest_extra or {})  # callers may override any field
    return _publish(
        table_dir, m, "this table has more than one writer; use "
        "write_version_concurrent for contending writers")


def write_version_concurrent(df: DataFrame, table_dir: str,
                             partition_by: list[str] | None = None,
                             append: bool = False,
                             batch_id: int | None = None,
                             manifest_extra: dict | None = None,
                             max_retries: int = 20,
                             stats_for: list[str] | None = None) -> int:
    """Optimistic-concurrency publish: many uncoordinated writers, no
    lost updates. Returns the version this writer's snapshot became.

    ``write_version`` is single-writer by contract — two concurrent
    callers allocate the same version number and the loser now dies on
    the manifest CAS. This is the multi-writer path the big table
    formats add on top of the same data-first/manifest-last protocol:

    1. The data is staged ONCE under a nonce'd dir (``_staged/<nonce>``)
       that no version number depends on — concurrent writers can never
       collide on a data path, and the expensive part (the cluster
       write) happens exactly once regardless of contention.
    2. The commit is a pure-metadata CAS loop: re-read the latest
       version, build a manifest whose ``data_dirs`` references the
       staged dir (plus the parent chain for ``append=True``), and
       publish it with create-if-absent. Losing the CAS costs one
       manifest-file round trip; the winner's snapshot is re-read and
       the commit retried against it — Iceberg/Delta's optimistic
       commit, minus their conflict matrix because the two operations
       offered here are always mergeable: ``append=True`` commutes with
       any interleaving (each retry re-chains onto the new head), and
       full replaces linearize by version order (last writer wins, the
       loser's snapshot stays readable via time travel).

    Read-modify-write operations (upsert_version, delete_version,
    compact) stay single-writer: a blind retry there would silently
    drop the interleaved writer's rows, so their publish fails loudly
    with VersionConflictError instead and the caller re-runs the whole
    transform against the new head. Layout writes (bucket_by/sort_by)
    are whole-table properties and likewise remain maintenance-pass
    territory — this path publishes plain or hive-partitioned snapshots
    only.

    Atomicity of the CAS is the filesystem's create-if-absent (see
    fsio.create_text_exclusive): exact on local FS and HDFS, exact on
    object stores with conditional writes (S3 If-None-Match, GCS, ABFS).

    A writer that dies after staging but before winning leaves an
    orphan staged dir that no manifest references; ``vacuum`` sweeps
    those once they outlive ``staged_ttl_s`` (TTL, not immediacy,
    because an in-flight writer's staged dir looks identical until its
    commit lands)."""
    nonce = uuid.uuid4().hex[:12]
    staged_rel = _staged_rel(nonce)
    staged_dir = os.path.join(table_dir, staged_rel)
    # observe the metadata the commit will most likely need: the
    # explicit stats columns, else (appends) the current head's, and
    # (appends) the head's blooms — a commit that lands on a head
    # asking for others scans the staged dir for those instead
    head = latest_version(table_dir)
    want = (read_manifest(table_dir, head) if append and head is not None
            else {})
    if stats_for is not None:
        want = {**want, "stats_for": stats_for}
    observed = _write_observed(df, _meta_sets(want),
                               _parquet_write(staged_dir, partition_by))
    new_rows = fsio.parquet_row_count(staged_dir)
    mine: dict = {}  # this writer's entries per column set, made once

    def dir_meta(m):
        sets = _meta_sets(m)
        if sets not in mine:
            mine[sets] = _new_dir_meta(df.sparkSession, m, staged_dir,
                                       new_rows, observed)
        return mine[sets]

    return _commit_staged(
        table_dir, staged_rel, df.schema, new_rows, append,
        "append-concurrent" if append else "replace-concurrent",
        batch_id=batch_id, max_retries=max_retries,
        partition_by=partition_by,
        parts=_hive_parts(staged_dir) if partition_by else None,
        stats_for=stats_for, dir_meta=dir_meta, nonce=nonce,
        manifest_extra=manifest_extra,
    )


def commit_staged_dir(table_dir: str, staged_rel: str, schema,
                      new_rows: int, append: bool,
                      operation: str, batch_id=None,
                      max_retries: int = 20,
                      skip_if_batch_id_published: bool = False):
    """CAS-publish a manifest referencing an ALREADY-STAGED data dir —
    the same commit loop ``write_version_concurrent`` runs after its
    stage (``_commit_staged``), for callers whose data landed outside
    a Spark write, chiefly the
    ``mr4ver`` DataSource WRITER (whose ``commit`` hook runs in a
    Python worker with no SparkSession: everything here is manifest
    file I/O + the CAS). Contract is the concurrent writer's:
    appends re-chain onto the new head on a lost CAS (commutative),
    replaces bump the version and retry (linearize by version order).

    The staged dir gets NO col_stats/bloom entry (computing them needs
    a scan this hook cannot run) — readers degrade soundly (unknown
    dirs always scan; ``count_version`` stays exact from the recorded
    ``dir_rows``), and ``analyze_table`` backfills the skipping
    metadata as a later metadata-only commit. Appends inherit the
    chain's stats/bloom columns, parent entries, deletion vector, and
    recorded clustering discipline exactly like ``write_version``;
    bucketed and hive-partitioned parents refuse (the writer stages
    flat files).

    ``skip_if_batch_id_published``: re-check ``batch_id`` membership
    INSIDE every CAS attempt and return None (publishing nothing, the
    caller owns the staged-dir cleanup) when a retained manifest
    already records it. This is what makes the idempotent-write
    guarantee hold under CONCURRENT replays (a zombie original racing
    its retry): a pre-commit check alone is check-then-act — both
    racers can pass it — but with the in-attempt ordering
    (read head, check membership, CAS head+1) a racer that loses the
    CAS re-enters the loop and finds the winner's key, and one that
    read a pre-winner head has its CAS refused by the winner's
    manifest. Delta re-validates txn versions inside its commit
    conflict loop for the same reason."""
    return _commit_staged(
        table_dir, staged_rel, schema, new_rows, append, operation,
        batch_id=batch_id, max_retries=max_retries,
        skip_if_batch_id_published=skip_if_batch_id_published,
    )


def analyze_table(spark: SparkSession, table_dir: str,
                  stats_for: list[str] | None = None,
                  bloom_for: list[str] | None = None,
                  bloom_bits: int | None = None,
                  detail: bool = False):
    """ANALYZE: backfill per-dir col_stats / bloom filters for chain
    dirs MISSING them, published as a metadata-only commit (data_dirs
    unchanged, zero data movement). Each such dir is scanned once: one
    ``_scan_meta`` aggregate builds its missing stats and blooms
    together, from the same ``_meta_exprs`` a publish observes. The
    maintenance pass that gives skipping metadata to dirs whose
    publish path couldn't collect it: the ``mr4ver`` DataSource
    writer's staged dirs, pre-``stats_for`` history, legacy chains.
    Columns default to the chain's recorded ``stats_for``/``bloom_for``
    (passing them establishes the contract on a chain that lacked
    one). Stats describe the dirs' PHYSICAL rows (deletion vectors
    ignored) — the same rule every publish-time collection follows,
    which is what keeps DV-aware readers' degrade logic sound.
    Returns the new version, or None when nothing is missing;
    ``detail=True`` adds ``{"analyzed": [dirs]}``."""
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    pm = read_manifest(table_dir, version)
    stats_for = stats_for or pm.get("stats_for")
    bloom_for = bloom_for or pm.get("bloom_for")
    bloom_bits = bloom_bits or pm.get("bloom_bits") or (1 << 17)
    if not stats_for and not bloom_for:
        raise ValueError(
            f"{table_dir} records no stats_for/bloom_for and none were "
            "given — nothing to analyze"
        )
    dirs = _chain_dirs(pm)
    col_stats = dict(pm.get("col_stats") or {})
    bloom = dict(pm.get("bloom") or {})
    todo = [d for d in dirs
            if (stats_for and d not in col_stats)
            or (bloom_for and d not in bloom)]
    if not todo:
        return (None, {"analyzed": []}) if detail else None
    for d in todo:
        # physical rows of this one dir (no DV mask: table_dir omitted)
        s, b = _scan_meta(
            _scan_dirs(spark, pm, [os.path.join(table_dir, d)]),
            (() if d in col_stats else stats_for or (),
             () if d in bloom else bloom_for or (), bloom_bits))
        if s:
            col_stats[d] = s
        if b:
            bloom[d] = b
    v = _publish(table_dir, {
        **_inherited_manifest(pm),
        "version": version + 1,
        "parent": version,
        "batch_id": None,
        "stats_for": stats_for,
        "col_stats": col_stats or None,
        "bloom_for": bloom_for,
        "bloom_bits": bloom_bits if bloom_for else None,
        "bloom": bloom or None,
        "operation": "analyze",
    }, "analyze again from the new chain head")
    return (v, {"analyzed": todo}) if detail else v


def _nullable_deep(dt):
    """The type with every nested nullability flag permissive — what a
    scan can actually guarantee. Needed because a cast whose only
    difference is nested containsNull/valueContainsNull TIGHTENING
    (true -> false) is refused by Spark (CAST_WITHOUT_SUGGESTION), so a
    conformance target must never claim nested non-nullability."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable_deep(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_deep(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable_deep(dt.keyType),
                       _nullable_deep(dt.valueType), True)
    return dt


def _scan_schema(manifest: dict):
    """The manifest schema as a SCAN sees it: every field nullable at
    every nesting level (a parquet read never guarantees non-null),
    manifest-declared types. ``_scan_dirs`` (which ``read_version``,
    the pruned readers, the aggregates and the commits share) hands it
    to the parquet reader, and ``read_version_pruned`` pins its output
    to it, so no read path infers a schema from footers and none can
    disagree with another or with an empty result's schema."""
    from pyspark.sql.types import StructType

    return _nullable_deep(StructType.fromJson(manifest["schema"]))


def _conform_to_schema(df: DataFrame, manifest: dict,
                       keep: tuple = ()) -> DataFrame:
    """Project ``df`` onto the manifest's scan schema: present columns
    cast to their declared types (hive partition discovery can infer
    e.g. int where the writer declared long — the manifest is the
    source of truth), ABSENT columns null-padded with the declared type
    — how an evolved chain reads dirs written before a column existed,
    the same typed-null padding the CDC feed applies to evolved
    snapshots. Column order follows the manifest, so every read path
    agrees on shape. ``keep`` names extra helper columns (the deletion
    vector's file/position pair) to carry through untouched."""
    from pyspark.sql import functions as F

    fields = df.schema.fields
    target = _scan_schema(manifest).fields
    if not keep and [(f.name, f.dataType) for f in fields] \
            == [(f.name, f.dataType) for f in target]:
        return df  # already conformant: the projection would be identity
    have = {f.name: f for f in fields}
    cols = []
    for f in target:
        got = have.get(f.name)
        if got is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif got.dataType == f.dataType:
            cols.append(F.col(f.name))  # no-op cast would still be refused
        else:
            # cast targets are deep-nullable (_scan_schema), so the only
            # refusable shape — nested nullability TIGHTENING — never
            # appears; loosening (false -> true) casts fine
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return df.select(*cols, *[F.col(k) for k in keep])


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read deletes)
#
# A DV version deletes rows WITHOUT rewriting any data file: the manifest
# records a parquet sidecar of (file, pos) pairs — file relative to the
# table dir ("v=000123/part-....parquet", relocatable), pos the parquet
# row index within it — and every read path anti-joins the scan against
# it. This is the Iceberg v2 positional-delete / Delta deletion-vector
# move: a targeted delete on a 100 TB table costs O(deleted rows) instead
# of rewriting every touched file, and the debt is folded away by the
# next compaction (compact()/compact_tail() read through the DV, so
# their outputs are DV-free). Copy-on-write (delete_version_pruned) is
# the complementary path when deletes are dense enough that rewriting
# beats carrying the filter.
# ---------------------------------------------------------------------------

_DV_COLS = ("__mr4_dv_file", "__mr4_dv_pos")

#: a deletion-vector sidecar's schema: table-relative file path and the
#: parquet row index within it
_DV_SCHEMA = "file string, pos long"

# broadcast the DV side of the anti-join below this many deleted rows
# (two slim columns — well under Spark's 8 GB broadcast ceiling); bigger
# DVs fall back to a shuffled anti-join, and SHOULD be compacted away
_DV_BROADCAST_MAX = 2_000_000


# a chain data dir is either a version dir or a concurrent writer's
# nonce'd staged dir — the two shapes a DV file path starts with
_DV_REL_RE = r"((?:v=\d{6}|_staged/[0-9a-f]+)/.*)$"
_DV_DIR_RE = r"^(_staged/[0-9a-f]+|v=\d{6})"


def _with_pos(scan: DataFrame) -> DataFrame:
    """Attach the deletion-vector join key to a parquet scan: the
    table-relative file path (the `v=NNNNNN/...` or `_staged/<nonce>/...`
    suffix of ``_metadata.file_path`` — stable across table moves and
    `file:` scheme prefixes) and the in-file row index. Both come from
    parquet scan metadata, so they cost no data-column reads and stay
    valid for immutable files forever."""
    from pyspark.sql import functions as F

    return scan.select(
        "*",
        F.regexp_extract(
            F.col("_metadata.file_path"), _DV_REL_RE, 1
        ).alias(_DV_COLS[0]),
        F.col("_metadata.row_index").alias(_DV_COLS[1]),
    )


def _dv_dir_col():
    """The chain-dir key of a DV sidecar file path (matches the
    manifest's ``data_dirs`` entries, staged dirs included)."""
    from pyspark.sql import functions as F

    return F.regexp_extract(F.col("file"), _DV_DIR_RE, 1)


def _dv_frame(spark: SparkSession, table_dir: str, manifest: dict):
    """The manifest's deletion-vector sidecar as a (file, pos)
    DataFrame, broadcast-hinted while it is provably small (the
    manifest records its exact cardinality, so the decision is
    metadata, not an estimate). Read with the sidecar's fixed schema,
    so opening it runs no footer-inference job."""
    from pyspark.sql import functions as F

    dv = manifest["dv"]
    df = spark.read.schema(_DV_SCHEMA).parquet(
        os.path.join(table_dir, dv["path"]))
    return F.broadcast(df) if dv["count"] <= _DV_BROADCAST_MAX else df


def _anti_dv(scan_with_pos: DataFrame, dv_df: DataFrame) -> DataFrame:
    """Drop the scan rows a deletion vector names: ONE left-anti join
    on (file, pos). The scan side keeps its helper columns (callers
    conform/strip afterwards)."""
    from pyspark.sql import functions as F

    cond = (
        (F.col(_DV_COLS[0]) == dv_df["file"])
        & (F.col(_DV_COLS[1]) == dv_df["pos"])
    )
    return scan_with_pos.join(dv_df, cond, "left_anti")


def _scan_partitioned_chain(spark: SparkSession, dirs: list[str],
                            manifest: dict,
                            with_pos: bool = False) -> DataFrame | None:
    """Union the non-empty dirs of a hive-partitioned append chain,
    null-padded and type-aligned to the manifest schema; None when
    every dir is empty. The partitioned branch of ``_scan_dirs``, so
    the chain-scan rules live in exactly one place: hive partition
    DISCOVERY needs each dir read from its own root (a multi-path read
    with a shared basePath would infer the v=NNNNNN level as a bogus
    partition column), and a zero-row partitioned append writes no
    parquet file at all, so empty dirs are skipped. Each dir is read
    with the manifest schema (partition columns typed from it, no
    footer inference); the conformance projection only restores the
    manifest's column order, which the scan changes by listing
    partition columns last. ``dirs`` are absolute paths. ``with_pos``
    attaches the per-row file/position helper pair (``_DV_COLS``) each
    scan branch can still resolve from its own ``_metadata`` — the
    hook the deletion-vector filter joins on."""
    out = None
    schema = _scan_schema(manifest)
    for d in dirs:
        if not fsio.has_parquet(d):
            continue
        part = spark.read.schema(schema).parquet(d)
        if with_pos:
            part = _with_pos(part)
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True)
    return None if out is None else _conform_to_schema(
        out, manifest, keep=_DV_COLS if with_pos else ())


def _reclaim_torn_write(table_dir: str, version: int) -> None:
    """Delete ``version``'s data dir if it exists WITHOUT a manifest —
    the torn leftover of a writer that died between its data write and
    its manifest publish. Versions are manifest-defined, so an
    unmanifested data dir is provably garbage (under the format's
    single-writer contract), and leaving it would brick the next
    publish of the same version number on mode("errorifexists").
    Called by every publish path right after allocating its version,
    which makes a crashed publish self-healing instead of fatal."""
    data_dir = _data_dir(table_dir, version)
    if fsio.exists(data_dir) and not fsio.exists(
            _manifest_path(table_dir, version)):
        fsio.delete(data_dir, recursive=True)


def _as_of_epoch(as_of) -> float:
    """Normalize an AS-OF timestamp to UTC epoch seconds. Accepts epoch
    int/float, datetime/date, or an ISO-8601 string; tz-naive inputs are
    UTC (the repo-wide convention — the session timezone is pinned UTC
    in session.py, and manifests record UTC epochs)."""
    from datetime import date, datetime, timezone

    if isinstance(as_of, bool):
        raise TypeError("as_of must be a timestamp, not a bool")
    if isinstance(as_of, (int, float)):
        return float(as_of)
    if isinstance(as_of, datetime):
        dt = as_of if as_of.tzinfo else as_of.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    if isinstance(as_of, date):
        return datetime(as_of.year, as_of.month, as_of.day,
                        tzinfo=timezone.utc).timestamp()
    if isinstance(as_of, str):
        dt = datetime.fromisoformat(as_of)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    raise TypeError(f"as_of must be epoch seconds, datetime/date, or an "
                    f"ISO-8601 string; got {type(as_of).__name__}")


def version_at(table_dir: str, as_of) -> int:
    """The latest published version committed at or before ``as_of`` —
    the resolver behind timestamp time travel (``read_version(...,
    as_of=...)`` / Delta's ``timestampAsOf`` / Iceberg's
    ``as-of-timestamp``).

    Commit times come from each manifest's ``committed_at`` (UTC epoch,
    stamped at publish). Clock skew between uncoordinated concurrent
    writers can record a later version with a slightly earlier stamp;
    resolution applies Delta's monotonic adjustment — each version's
    effective time is the running max of commit times up to it — so the
    answer is always a legal version (never an older version than one
    already visible at ``as_of``).

    Loud failures instead of wrong answers: an ``as_of`` earlier than
    the oldest RETAINED commit raises — distinguishing "before the
    table's first commit" (the oldest manifest has no parent) from
    "past the vacuum horizon" (it has one, so earlier versions existed
    and were vacuumed). Manifests published before commit-time stamping
    carry no ``committed_at``; they genuinely predate every timestamp a
    caller can name with this feature, so they count as arbitrarily
    old (eligible at any ``as_of``).
    """
    ts = _as_of_epoch(as_of)
    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    best = None
    running: float | None = None  # monotonic-adjusted commit time
    for v in versions:
        ca = read_manifest(table_dir, v).get("committed_at")
        if ca is not None:
            running = ca if running is None else max(running, ca)
        if running is None or running <= ts:
            best = v
        else:
            break  # adjusted times are monotone: later versions too new
    if best is None:
        first = read_manifest(table_dir, versions[0])
        if first.get("parent") is not None:
            raise ValueError(
                f"as_of={as_of!r} predates the oldest retained version of "
                f"{table_dir} (v{versions[0]}, parent v{first['parent']} "
                "was vacuumed) — the requested snapshot is past the "
                "vacuum horizon"
            )
        raise ValueError(
            f"as_of={as_of!r} predates the first commit of {table_dir} "
            f"(v{versions[0]})"
        )
    return best




def _resolve_version(table_dir: str, version, as_of) -> int:
    """Shared version/as_of resolution for every reader and metadata
    aggregate: exactly one addressing mode (or neither = latest).
    ``version`` may be a TAG NAME (string) — resolved through the
    table's tag registry, so every reader and aggregate accepts
    ``version="train-v1"`` with no extra plumbing."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        return version_at(table_dir, as_of)
    if isinstance(version, str):
        return resolve_tag(table_dir, version)
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no published versions in {table_dir}")
    return version


def _open_version(table_dir: str, version, as_of) -> dict:
    """The manifest of the addressed version — the prologue of every
    reader and metadata aggregate. Resolution is ``_resolve_version``'s;
    an EXPLICIT version (number or tag) that has no manifest raises
    ``FileNotFoundError("version N not published in ...")`` instead of
    the manifest read's raw errno."""
    explicit = version is not None
    version = _resolve_version(table_dir, version, as_of)
    if explicit and not fsio.exists(_manifest_path(table_dir, version)):
        raise FileNotFoundError(
            f"version {version} not published in {table_dir}")
    return read_manifest(table_dir, version)


def _tag_path(table_dir: str, name: str) -> str:
    import re

    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
        raise ValueError(
            f"tag name {name!r} must be 1-64 chars of [A-Za-z0-9._-]"
        )
    return os.path.join(table_dir, "_tags", name)


def tag_version(table_dir: str, name: str,
                version: int | None = None) -> int:
    """Pin a NAMED TAG to a version (default: latest) — Iceberg tags /
    Delta named snapshots for this format. A tag is a retention
    override as much as a name: ``vacuum`` keeps every tagged
    version's manifest, data dirs, and DV sidecar alive however old it
    gets, which is what makes "train-v1 is exactly this data, rerun it
    any time" a durable contract instead of a race against the
    retention window. Tags are immutable once set (create-exclusive —
    the no-clobber rule that keeps a published name meaning one thing
    forever); to move a name, ``delete_tag`` then re-tag, which is an
    auditable two-step on purpose. Returns the pinned version."""
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no published versions in {table_dir}")
    if not fsio.exists(_manifest_path(table_dir, version)):
        raise FileNotFoundError(
            f"version {version} not published in {table_dir}")
    path = _tag_path(table_dir, name)
    fsio.mkdirs(os.path.dirname(path))
    if not fsio.create_text_exclusive(path, str(version)):
        raise ValueError(
            f"tag {name!r} already exists on {table_dir} (-> "
            f"v{resolve_tag(table_dir, name)}); delete_tag first to "
            "move it"
        )
    return version


def resolve_tag(table_dir: str, name: str) -> int:
    """The version a tag names; loud FileNotFoundError for unknown
    tags (never a silent fallback to latest)."""
    path = _tag_path(table_dir, name)
    if not fsio.exists(path):
        raise FileNotFoundError(
            f"no tag {name!r} on {table_dir} (tags: "
            f"{sorted(list_tags(table_dir)) or 'none'})"
        )
    return int(fsio.read_text(path).strip())


def list_tags(table_dir: str) -> dict[str, int]:
    """name -> version for every tag on the table."""
    root = os.path.join(table_dir, "_tags")
    if not fsio.exists(root):
        return {}
    return {
        name: int(fsio.read_text(os.path.join(root, name)).strip())
        for name in fsio.listdir(root)
    }


def delete_tag(table_dir: str, name: str) -> int:
    """Drop a tag (returns the version it named). The version itself
    stays published; it just loses its retention override and ages out
    with the normal vacuum window."""
    v = resolve_tag(table_dir, name)
    fsio.delete(_tag_path(table_dir, name))
    return v




def read_version(spark: SparkSession, table_dir: str,
                 version: int | None = None, as_of=None) -> DataFrame:
    """Latest snapshot, time-travel to an explicit ``version``, or
    timestamp time-travel via ``as_of`` (epoch seconds, datetime, or
    ISO string — resolved by ``version_at`` to the latest version
    committed at or before it).

    Bucketed snapshots come back as catalog tables (re-registered from
    the manifest's bucket spec if the session is fresh), so the planner
    sees the bucketing and drops the Exchange on bucket-key joins/aggs.
    Every other shape — a single dir, a plain or partitioned chain, a
    schema-evolved chain, a deletion vector — is ``_scan_dirs`` over all
    chain dirs, with the manifest-pinned schema.
    """
    manifest = _open_version(table_dir, version, as_of)
    if manifest.get("bucket_by"):
        from pyspark.sql.types import StructType

        version = manifest["version"]
        name = _catalog_name(table_dir, version, manifest.get("nonce") or "")
        if not spark.catalog.tableExists(name):
            schema = StructType.fromJson(manifest["schema"])
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            keys = ", ".join(f"`{c}`" for c in manifest["bucket_by"])
            sort_keys = ", ".join(f"`{c}`" for c in manifest["sort_by"])
            spark.sql(
                f"CREATE TABLE `{name}` ({cols}) USING parquet "
                f"CLUSTERED BY ({keys}) SORTED BY ({sort_keys}) "
                f"INTO {manifest['n_buckets']} BUCKETS "
                f"LOCATION '{_data_dir(table_dir, version)}'"
            )
        return spark.table(name)
    return _scan_dirs(spark, manifest, [
        os.path.join(table_dir, d) for d in _chain_dirs(manifest)
    ], table_dir)


def read_version_pruned(spark: SparkSession, table_dir: str,
                        partition_values: dict[str, object],
                        version: int | None = None, as_of=None) -> DataFrame:
    """Read a hive-partitioned snapshot (or partitioned append CHAIN)
    restricted to the given partition values — pruning done at the
    MANIFEST/PATH level, not by the scanner.

    For a chain of B appended versions, ``read_version().filter(...)``
    plans B unioned scans whose listing/planning cost grows with B even
    though the filter prunes their data. This helper instead enumerates
    the matching ``col=value`` subdirectories of every chain dir on the
    driver (fs stat through the table's FileSystem — the manifest-level
    pruning move of Iceberg/Delta) and issues one multi-path parquet
    read PER REQUESTED VALUE over exactly the pruned directories:
    planning cost tracks the PROBE's partition footprint (number of
    requested values + matching dirs), not the chain length.

    Schema contract (shared with ``read_version``): the result carries
    the full manifest schema INCLUDING the partition column — its value
    is restored per pruned branch from the directory name, cast to the
    manifest's declared type so the two read paths can never disagree
    on types. When no matching directory exists yet the result is an
    EMPTY DataFrame with that same schema (never None), so callers
    compose filters/joins without a null-check.

    Only single-column pruning is needed so far; ``partition_values``
    maps the partition column to an iterable of wanted values.
    """
    from pyspark.sql import functions as F

    manifest = _open_version(table_dir, version, as_of)
    part_cols = manifest.get("partition_by") or []
    if len(part_cols) != 1 or set(partition_values) != set(part_cols):
        raise ValueError(
            f"read_version_pruned needs a single-column partitioned "
            f"snapshot matching {list(partition_values)}; manifest has "
            f"partition_by={part_cols!r}"
        )
    col = part_cols[0]
    schema = _scan_schema(manifest)
    col_type = schema[col].dataType
    dirs = _chain_dirs(manifest)
    # The partition-subdir index recorded at publish (dir_parts) makes
    # the probe LISTING-FREE: matching col=value subdirs come straight
    # from the manifest already in hand — zero FS round trips however
    # long the chain, the term an object-store trickle ingest pays per
    # batch (SCALE.md round 10). Dirs without an entry (pre-index
    # manifests) fall back to ONE listing each — O(chain), never
    # O(chain x values) per-path stats.
    recorded = manifest.get("dir_parts") or {}
    wanted = {f"{col}={v}" for v in partition_values[col]}
    paths = []
    for d in dirs:
        entries = recorded.get(d)
        if entries is None:
            entries = fsio.listdir(os.path.join(table_dir, d))
        paths += [os.path.join(table_dir, d, e)
                  for e in entries if e in wanted]
    if not paths:
        return spark.createDataFrame([], schema)
    # ONE multi-path read over every pruned leaf (planning cost = one
    # relation, however many values the probe carries — a per-value
    # union would plan |values| scans). The leaf dirs sit BELOW the
    # partition level, so the scanner can't discover the column; its
    # value is restored from the file path (the `col=value` segment the
    # glob above matched), url-decoded per hive's partition-path
    # escaping and cast to the manifest's declared type. The leaves are
    # read with the manifest's data columns (no footer inference;
    # pre-evolution files read the columns they lack as nulls).
    from pyspark.sql.types import StructType

    scan = spark.read.schema(StructType(
        [f for f in schema.fields if f.name != col])).parquet(*paths)
    if manifest.get("dv"):
        scan = _with_pos(scan)
    scan = scan.withColumn(
        col,
        F.url_decode(
            F.regexp_extract(F.input_file_name(), f"/{col}=([^/]+)/", 1)
        ).cast(col_type),
    )
    # manifest conformance (order + types + null-padding pre-evolution
    # dirs), so both read paths agree on shape too
    if manifest.get("dv"):
        # merge-on-read: deletion-vector rows drop here as well — the
        # relative-path join key contains the partition subdir, so the
        # pruned leaves match their sidecar entries exactly
        out = _conform_to_schema(scan, manifest, keep=_DV_COLS)
        out = _anti_dv(out, _dv_frame(spark, table_dir, manifest))
        return out.drop(*_DV_COLS)
    return _conform_to_schema(scan, manifest)


def _range_relation(dir_stats: dict | None, dir_row_count,
                    where: dict) -> str:
    """Classify one chain dir against conjunctive range bounds using
    its recorded stats: ``"miss"`` (provably no row matches — skip),
    ``"full"`` (provably EVERY row matches — metadata-countable), or
    ``"partial"`` (must scan). The range proof of ``_plan_dirs``.

    Soundness rules, identical to the pruned read's: unknown stats pass
    as partial (never a guess), date/timestamp bounds normalize to the
    stats' canonical-string order, and an incomparable bound (TypeError)
    degrades that column to partial — the residual Spark filter still
    applies the predicate with SQL cast semantics. "full" additionally
    requires a recorded null count of ZERO for every bounded column
    (min/max ignore nulls; a null never satisfies a range predicate)
    and a known per-dir row count — 2-element legacy stats entries or a
    missing dir_rows entry therefore cap the dir at partial.
    """
    rel = "full"
    if dir_row_count == 0:
        return "miss"  # a provably-empty dir contributes nothing
    if dir_row_count is None:
        rel = "partial"
    for c, (lower_c, upper_c) in where.items():
        if lower_c is None and upper_c is None:
            # an unbounded column is satisfied by EVERY row, nulls
            # included — running the nulls/containment check below would
            # needlessly degrade a null-bearing dir to a scan
            continue
        if (isinstance(lower_c, float) and lower_c != lower_c) \
                or (isinstance(upper_c, float) and upper_c != upper_c):
            # NaN BOUNDS (reachable from the CLI: _bound('nan') parses):
            # every comparison is False, so a zero-null dir would fall
            # through to 'full' and be metadata-counted while the
            # residual scan filter (col >= NaN) matches zero rows —
            # metadata and scan would disagree. Same rule as NaN stats:
            # NaN means unknown, scan.
            rel = "partial"
            continue
        ent = (dir_stats or {}).get(c)
        if (ent and ent[0] is None and ent[1] is None and len(ent) > 2
                and dir_row_count is not None
                and ent[2] == dir_row_count):
            # provably ALL-NULL for this column (null count == row
            # count): no row can satisfy a bound, whatever it is. This
            # is how pre-evolution dirs — backfilled [None, None,
            # dir_rows] at evolution time — stay metadata-classifiable
            # for bounded COUNT/SUM instead of scanning.
            return "miss"
        if not ent or ent[0] is None or ent[1] is None:
            rel = "partial"  # unknown: scan, never skip — keep checking
            continue         # other columns, which may still prove miss
        mn, mx = ent[0], ent[1]
        if (isinstance(mn, float) and mn != mn) \
                or (isinstance(mx, float) and mx != mx):
            # NaN stats (Spark min/max of a NaN-bearing float column):
            # every comparison below would be False, which can never
            # prove "miss" but WOULD fall through to "full" — and a NaN
            # row fails any range predicate in a scan, so a metadata
            # count would overcount. NaN means unknown: scan.
            rel = "partial"
            continue
        # date/timestamp stats serialize as canonical strings whose
        # lexicographic order is time order; normalize bounds too
        lo = (str(lower_c) if isinstance(mn, str)
              and not isinstance(lower_c, (str, type(None)))
              else lower_c)
        hi = (str(upper_c) if isinstance(mx, str)
              and not isinstance(upper_c, (str, type(None)))
              else upper_c)
        try:
            if lo is not None and mx < lo:
                return "miss"
            if hi is not None and mn > hi:
                return "miss"
            nulls = ent[2] if len(ent) > 2 else None
            if (nulls != 0
                    or (lo is not None and mn < lo)
                    or (hi is not None and mx > hi)):
                rel = "partial"
        except TypeError:
            rel = "partial"
    return rel


def _window_survivors(manifest: dict, key: str, vals: list,
                      dirs: list[str]) -> dict[str, list]:
    """Per dir, the subset of ``vals`` inside its recorded [min, max]
    window for ``key`` — an empty list is a RANGE PROOF the dir holds
    none. Unknown/NaN stats degrade to "all values possible". Pure
    manifest arithmetic (no Spark): the window half of the planner's
    window-then-bloom rule."""
    stats = manifest.get("col_stats") or {}
    windowed: dict[str, list] = {}
    for d in dirs:
        ent = (stats.get(d) or {}).get(key)
        if not ent or ent[0] is None or ent[1] is None:
            windowed[d] = vals  # unknown range: every value is possible
            continue
        mn, mx = ent[0], ent[1]
        if (isinstance(mn, float) and mn != mn) \
                or (isinstance(mx, float) and mx != mx):
            windowed[d] = vals  # NaN stats mean unknown
            continue
        cand = []
        for v in vals:
            # date/timestamp stats serialize as canonical strings whose
            # lexicographic order is time order (the _range_relation
            # normalization)
            vv = (str(v) if isinstance(mn, str)
                  and not isinstance(v, str) else v)
            try:
                if mn <= vv <= mx:
                    cand.append(v)
            except TypeError:
                cand.append(v)  # incomparable: conservative
        windowed[d] = cand
    return windowed


def _jvm_bloom_positions(spark: SparkSession, manifest: dict, col: str):
    """A ``positions(vals, bits, k)`` callable for ``_bloom_hits`` that
    runs ONE tiny JVM job per call with the SAME hash expression the
    writer used (``_bloom_positions_col`` — xxhash64 on the
    manifest-declared column type), so writer and reader can never
    disagree on hashing. ``_bloom_positions``' fallback for the column
    types the pure-Python twin does not cover."""
    from pyspark.sql.types import StructType

    def positions(vals: list, bits: int, _k: int) -> list[list[int]]:
        rows = spark.createDataFrame(
            [(v,) for v in vals], StructType([_scan_schema(manifest)[col]])
        ).select(_bloom_positions_col(col, bits).alias("ps")).collect()
        return [list(map(int, r["ps"])) for r in rows]

    return positions


def _bloom_positions(spark: SparkSession, manifest: dict, col: str):
    """The bloom hash a Spark-side probe uses (``_plan_dirs``'
    ``positions``): the pure-Python ``xxh64`` twin — no Spark job, and
    pinned bit-equal to the writer's JVM expression
    (``tests/test_pyds_versioned.py``,
    ``test_key_dir_classifier_agrees_across_hash_twins``) — for the
    column types it covers and values of the column's own Python type;
    anything else hashes with the JVM job of ``_jvm_bloom_positions``,
    which converts the values exactly as before."""
    from mapreduce_4_spark.sources import xxh64

    ctype = _scan_schema(manifest)[col].dataType.simpleString()
    native = str if ctype == "string" else int
    twin = xxh64.positions_for(ctype)
    jvm = _jvm_bloom_positions(spark, manifest, col)

    def positions(vals: list, bits: int, k: int) -> list[list[int]]:
        if ctype in xxh64.SUPPORTED_TYPES and all(
                type(v) is native for v in vals):
            return twin(vals, bits, k)
        return jvm(vals, bits, k)

    return positions


def _bloom_hits(manifest: dict, col: str, vals_by_dir: dict[str, list],
                positions) -> dict:
    """Probe each dir's recorded bloom filter for ``col`` against that
    dir's non-null values: True = at least one value may be present,
    False = PROVABLY none is (skippable), None = no bloom recorded or
    no way to hash the column (unknown — scan). The bloom half of the
    planner's window-then-bloom rule.

    ``positions(vals, bits, k)`` returns each value's bit positions,
    or None when it has no hash for the column type. It runs ONCE per
    bits-variant (bloom_bits can change across a chain's eras) over
    the union of all dirs' values."""
    import base64

    blooms = manifest.get("bloom") or {}
    ents = {d: (blooms.get(d) or {}).get(col) for d in vals_by_dir}
    probe = sorted({v for vals in vals_by_dir.values() for v in vals},
                   key=lambda x: (str(type(x)), str(x)))
    pos = {}
    for bits, k in {(e["bits"], e["k"]) for e in ents.values() if e}:
        got = positions(probe, bits, k)
        if got is not None:
            pos[bits, k] = dict(zip(probe, got))
    out: dict[str, bool | None] = {}
    for d, vals in vals_by_dir.items():
        ent = ents[d]
        by_val = pos.get((ent["bits"], ent["k"])) if ent else None
        if by_val is None:
            out[d] = None  # no bloom recorded: scan, never skip
            continue
        ba = base64.b64decode(ent["b64"])
        out[d] = any(all((ba[p // 8] >> (p % 8)) & 1 for p in by_val[v])
                     for v in vals)
    return out


def _plan_dirs(manifest: dict, where: dict | None = None,
               probes: dict | None = None, positions=None,
               meta: tuple | None = None) -> dict[str, str]:
    """The read planner: ``{dir: "miss" | "full" | "partial"}`` for
    every chain dir of ``manifest``, in chain order, from the manifest
    alone. Unknown evidence never proves anything — it leaves
    a dir partial, never skips it.

    - ``where={col: (lower, upper)}`` (conjunctive closed ranges):
      ``_range_relation`` with the manifest's ``dir_rows``, so an empty
      dir, or one provably all-null for a bounded column, is a miss.
      Without ``where`` every dir starts full.
    - ``probes={col: [values, ...]}``: each value list is one ``IN``
      conjunct. A dir is a miss when no value lies in its recorded
      [min, max] window, or its bloom filter proves every window
      survivor absent; each dir is probed only against its OWN window
      survivors. A point lookup never proves every row matches, so a
      probed dir that survives is partial. ``positions(col)`` returns
      the column's ``positions(vals, bits, k)`` bloom hash: the
      pure-Python ``xxh64`` twin, in both the Spark-side callers
      (``_bloom_positions``, which falls back to a JVM job for types
      the twin does not cover) and the DataSource planning worker,
      where no SparkSession exists.
    - ``meta=(col, width)``: the caller folds full dirs from metadata,
      so a full dir lacking what the fold reads is demoted to partial.
      ``col=None`` folds live row counts (``dir_rows`` minus the dir's
      deletion-vector rows). Otherwise the fold reads ``col``'s stats
      entries at least ``width`` long (2: min/max, 3: null count,
      which a count subtracts from ``dir_rows``, 4: sum). Recorded
      column values include rows a deletion vector deleted, so a dir
      carrying deletion-vector rows is demoted for a column fold.
    """
    dirs = _chain_dirs(manifest)
    stats = manifest.get("col_stats") or {}
    dir_rows = manifest.get("dir_rows") or {}
    plan = {d: (_range_relation(stats.get(d), dir_rows.get(d), where)
                if where else "full") for d in dirs}
    for col, val_lists in (probes or {}).items():
        for vals in val_lists:
            live = [d for d in dirs if plan[d] != "miss"]
            need = {d: w for d, w in _window_survivors(
                manifest, col, vals, live).items() if w}
            hits = _bloom_hits(manifest, col, need, positions(col))
            for d in live:
                plan[d] = ("partial" if d in need and hits[d] is not False
                           else "miss")
    if meta is not None:
        col, width = meta
        dvc = (manifest.get("dv") or {}).get("dir_counts") or {}
        for d in [d for d in dirs if plan[d] == "full"]:
            ent = (stats.get(d) or {}).get(col)
            known = d in dir_rows if col is None else (
                ent is not None and len(ent) >= width and not dvc.get(d)
                and (width != 3 or d in dir_rows))
            if not known:
                plan[d] = "partial"
    return plan


def _kept(table_dir: str, plan: dict, rel: tuple = ("full", "partial")):
    """The absolute paths of the planned dirs whose verdict is in
    ``rel`` (default: every non-miss dir), in chain order."""
    return [os.path.join(table_dir, d) for d, r in plan.items() if r in rel]


def read_version_stats_pruned(spark: SparkSession, table_dir: str,
                              col: str | None = None, lower=None, upper=None,
                              version: int | None = None,
                              where: dict | None = None,
                              as_of=None) -> DataFrame:
    """Range read with manifest-stats DIRECTORY skipping: scan only the
    chain dirs the planner cannot prove out of the requested range(s),
    then apply the exact predicate as a residual filter.
    Single-column form: ``col`` + ``lower``/``upper`` (either bound
    optional). Multi-column form: ``where={col: (lower, upper), ...}``
    — the ranges AND together, so a dir is skipped when ANY column's
    recorded range provably misses its bound (the conjunctive-skipping
    rule Iceberg/Delta apply), or the dir is empty or provably all-null
    for a bounded column. Dirs with no stats for a column (older
    appends) pass that column's check — unknown means conservative,
    never wrong.

    This is the metadata-skipping layer real table formats put ABOVE
    parquet's row-group stats: a month-partitioned-by-arrival append
    chain of 10^3 dirs serves a one-day range query by touching the
    handful of dirs whose range overlaps it — zero file listings, zero
    footer reads for the rest, because the decision reads ONLY the one
    manifest already in hand. Inside the surviving dirs, pushdown
    continues to parquet footers as usual (the residual filter reaches
    the scan). Output schema is manifest-pinned like every other read
    path. Time-ordered data is the textbook fit for one column;
    multi-column boxes want the chain written in a z-order layout
    (zorder_interleave) so both columns' per-dir ranges stay narrow —
    pinned by the compose test in tests/test_stats_pruning.py.
    """
    if (col is None) == (where is None):
        raise ValueError(
            "read_version_stats_pruned takes either col (+ lower/upper) "
            "or where={col: (lower, upper)}, not both"
        )
    if col is not None:
        where = {col: (lower, upper)}
    if all(lo is None and hi is None for lo, hi in where.values()):
        raise ValueError("read_version_stats_pruned needs lower or upper")
    manifest = _open_version(table_dir, version, as_of)
    if manifest.get("bucket_by"):
        # one catalog table = one dir; nothing to skip at dir level
        return _apply_range_filter(
            read_version(spark, table_dir, manifest["version"]), where
        )
    plan = _plan_dirs(manifest, where=where)
    return _apply_range_filter(
        _scan_dirs(spark, manifest, _kept(table_dir, plan), table_dir),
        where)


def read_version_bloom_pruned(spark: SparkSession, table_dir: str,
                              col: str, values, version: int | None = None,
                              as_of=None, detail: bool = False):
    """Point lookup ``col IN (values)`` with BLOOM directory skipping:
    scan only the chain dirs the planner's window-then-bloom rule
    cannot prove free of every probe value, then apply the exact IN
    filter as a residual.

    This is the pruning axis min/max stats cannot provide when the
    column is UNSORTED across the chain — an id-keyed corpus appended
    in arrival order gives every dir a [min, max] spanning the whole
    keyspace, while each dir's bloom contains only its own keys, so a
    K-id lookup over a 10^3-dir chain touches ~the dirs that actually
    hold those ids (plus a fill^k false-positive tail, priced in the
    write_version docstring). A dir whose recorded [min, max] excludes
    every probe is skipped without its bloom. Soundness is
    one-directional by construction: a bloom can only prove ABSENCE, a
    false positive costs a wasted dir scan, and dirs without a bloom
    for ``col`` (published before bloom_for, or a different column
    set) are scanned unless their window proves them out — unknown
    means conservative, never wrong. Null probe values are dropped (SQL
    ``col IN (...)`` never matches null).

    The probe positions come from the pure-Python ``xxh64`` twin of
    the writer's hash expression (``_bloom_positions_col`` — xxhash64
    on the manifest-declared column type), pinned bit-equal to it by
    the tests, so planning the read runs no Spark job; column types
    the twin does not cover hash with one tiny JVM job instead
    (``_bloom_positions``).
    With ``detail=True`` returns ``(df, {"missed", "scanned",
    "unknown"})`` dir tallies (the plan-visible proof of the skip;
    ``unknown`` counts the scanned dirs that carry no bloom for
    ``col``).
    """
    manifest = _open_version(table_dir, version, as_of)
    if col not in _scan_schema(manifest).fieldNames():
        raise ValueError(f"{col!r} is not a column of {table_dir}")
    vals = [v for v in values if v is not None]
    plan = _plan_dirs(
        manifest, probes={col: [vals]},
        positions=lambda c: _bloom_positions(spark, manifest, c))
    out = _scan_dirs(spark, manifest, _kept(table_dir, plan),
                     table_dir).filter(_in_list(col, vals))
    if not detail:
        return out
    blooms = manifest.get("bloom") or {}
    kept = [d for d, r in plan.items() if r != "miss"]
    unknown = sum(not (blooms.get(d) or {}).get(col) for d in kept)
    return out, {"missed": len(plan) - len(kept),
                 "scanned": len(kept) - unknown, "unknown": unknown}


def _apply_range_filter(df: DataFrame, where: dict) -> DataFrame:
    """The exact residual predicate a stats-pruned read/count applies
    inside surviving dirs (conjunctive closed ranges, SQL semantics)."""
    from pyspark.sql import functions as F

    out = df
    for c, (lo, hi) in where.items():
        if lo is not None:
            out = out.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(c) <= F.lit(hi))
    return out


def _scan_dirs(spark: SparkSession, manifest: dict,
               dirs_abs: list[str], table_dir: str | None = None,
               keep_pos: bool = False) -> DataFrame:
    """One manifest-pinned-schema scan over the given chain dirs
    (possibly none -> empty DataFrame): the parquet reader gets
    ``_scan_schema(manifest)`` up front, so building the scan runs no
    footer-inference job, pre-evolution dirs read the columns they lack
    as typed nulls, and partitioned chains type their partition columns
    from the manifest. The one scan
    every read path shares: ``read_version`` (all chain dirs), the
    pruned reads (the planner's non-miss dirs), the metadata
    aggregates' residual scan and the copy-on-write rewrites. When the
    manifest carries a deletion vector and ``table_dir`` is given, the
    DV anti-join is applied here — every read path therefore sees live
    rows only, from exactly one place. Dirs holding no parquet file
    (a zero-row partitioned append) are skipped.
    ``keep_pos=True`` keeps the per-row (file, row-index) helper pair
    (``_DV_COLS``) on the output — the join-classified wide-mutation
    paths derive each live row's chain dir from it."""

    schema = _scan_schema(manifest)
    dv_live = bool(manifest.get("dv")) and table_dir is not None
    want_pos = dv_live or keep_pos
    if manifest.get("partition_by"):
        out = _scan_partitioned_chain(spark, dirs_abs, manifest,
                                      with_pos=want_pos)
        if out is None:
            return spark.createDataFrame([], schema)
    else:
        paths = [p for p in dirs_abs if fsio.has_parquet(p)]
        if not paths:
            return spark.createDataFrame([], schema)
        out = spark.read.schema(schema).parquet(*paths)
        if want_pos:
            out = _with_pos(out)
        out = _conform_to_schema(out, manifest,
                                 keep=_DV_COLS if want_pos else ())
    if dv_live:
        out = _anti_dv(out, _dv_frame(spark, table_dir, manifest))
    if want_pos and not keep_pos:
        out = out.drop(*_DV_COLS)
    return out


def _scan_partial(spark: SparkSession | None, table_dir: str,
                  manifest: dict, plan: dict, where: dict | None,
                  what: str, why: str,
                  keep_pos: bool = False) -> DataFrame | None:
    """The one residual scan of the metadata aggregates: the live rows
    of the planner's PARTIAL dirs under the exact range filter, or None
    when every dir was answered from metadata. ``spark=None`` asserts
    the metadata-only path: a partial dir raises instead of scanning.
    ``keep_pos`` keeps ``_scan_dirs``' (file, row-index) pair, from
    which ``avg_version`` tells its components' dirs apart."""
    partial = [d for d, r in plan.items() if r == "partial"]
    if not partial:
        return None
    if spark is None:
        raise ValueError(
            f"{what}({table_dir}): {len(partial)} chain dir(s) {why} — "
            "pass a SparkSession to scan them"
        )
    scan = _scan_dirs(spark, manifest, _kept(table_dir, plan, ("partial",)),
                      table_dir, keep_pos=keep_pos)
    return _apply_range_filter(scan, where or {})


def _tally(plan: dict, full: str) -> dict:
    """The aggregates' dir tallies: missed, answered from metadata (under
    the aggregate's own name), scanned."""
    rels = list(plan.values())
    return {"missed": rels.count("miss"), full: rels.count("full"),
            "scanned": rels.count("partial")}


def _bounded(where: dict | None) -> dict | None:
    """``where`` when at least one of its bounds is set, else None (an
    all-unbounded box is satisfied by every row, nulls included)."""
    if where and any(lo is not None or hi is not None
                     for lo, hi in where.values()):
        return where
    return None


def count_version(spark: SparkSession | None, table_dir: str,
                  col: str | None = None, lower=None, upper=None,
                  version: int | None = None, where: dict | None = None,
                  detail: bool = False, count_col: str | None = None,
                  as_of=None):
    """COUNT(*) with optional conjunctive range bounds, answered from
    manifest METADATA wherever provably possible — the aggregate
    twin of ``read_version_stats_pruned``'s directory skipping, and the
    lakehouse move (Iceberg/Delta metadata-only aggregates) that makes
    row-count monitoring O(1) instead of a 100 TB scan.

    Unbounded (no ``col``/``where``): returns the manifest's exact
    ``row_count`` — no filesystem traffic beyond the one manifest JSON,
    no Spark job, works with ``spark=None``. Bounded: each chain dir is
    classified by the read planner (``_plan_dirs``) — dirs whose range
    provably misses contribute 0, dirs that provably lie FULLY inside
    the bounds (min/max inside, zero recorded nulls) contribute their
    recorded ``dir_rows`` count straight from the manifest, and only
    the boundary-straddling remainder is scanned (one job over those
    dirs with the exact residual filter). A month-long append chain
    asked "how many rows in [day X, day Y]" therefore scans at most the
    two dirs containing the endpoints. COUNT(*) stays metadata-exact
    under deletion vectors: a full dir contributes its physical count
    minus its recorded DV cardinality, both manifest numbers.

    ``spark`` may be ``None`` to ASSERT the metadata-only path: if any
    dir would need scanning, raises instead of guessing — the
    test-visible proof that a given count touched no data. With
    ``detail=True`` returns ``(count, {"missed", "counted",
    "scanned"})`` dir tallies. Legacy manifests (no ``dir_rows``,
    2-element stats without null counts) stay correct by degrading
    full dirs to scanned ones.

    ``count_col`` switches to SQL ``COUNT(col)`` — NON-NULL rows of
    that column (composable with the same bounds). Metadata source: a
    provably-in-range dir contributes ``dir_rows − recorded null
    count`` of the column; dirs without a recorded null count for it,
    or carrying deletion-vector rows (whose null-ness is unrecorded),
    scan. Pre-evolution dirs (column didn't exist there) carry the
    backfilled all-null entry, so they contribute exactly 0 from
    metadata.
    """
    if (col is not None) and (where is not None):
        raise ValueError(
            "count_version takes either col (+ lower/upper) or "
            "where={col: (lower, upper)}, not both"
        )
    if col is not None:
        where = {col: (lower, upper)}
    where = _bounded(where)
    manifest = _open_version(table_dir, version, as_of)
    if where is None and count_col is None:
        info = {"missed": 0, "counted": len(_chain_dirs(manifest)),
                "scanned": 0}
        return (manifest["row_count"], info) if detail else manifest["row_count"]
    plan, total = _count_meta(manifest, where, count_col)
    scan = _scan_partial(
        spark, table_dir, manifest, plan, where, "count_version",
        "cannot be answered from manifest metadata (partial range "
        "overlap, missing stats/null counts, or a pre-dir_rows manifest)")
    if scan is not None:
        from pyspark.sql import functions as F

        total += (scan.agg(F.count(count_col).alias("n")).first()["n"]
                  if count_col is not None else scan.count())
    return (total, _tally(plan, "counted")) if detail else total


def _count_meta(manifest: dict, where: dict | None,
                count_col: str | None) -> tuple[dict, int]:
    """``count_version``'s metadata half: the plan and the count its
    full dirs contribute from the manifest (``dir_rows`` minus the
    dir's deletion-vector rows, or minus ``count_col``'s null count)."""
    plan = _plan_dirs(manifest, where=where, meta=(count_col, 3))
    stats = manifest.get("col_stats") or {}
    dir_rows = manifest.get("dir_rows") or {}
    dvc = (manifest.get("dv") or {}).get("dir_counts") or {}
    return plan, sum(
        dir_rows[d] - (stats[d][count_col][2] if count_col is not None
                       else dvc.get(d, 0))
        for d, r in plan.items() if r == "full"
    )


def _sum_meta(manifest: dict, col: str,
              where: dict | None) -> tuple[dict, list]:
    """``sum_version``'s metadata half: the plan and the recorded
    non-null sums of its full dirs."""
    plan = _plan_dirs(manifest, where=where, meta=(col, 4))
    stats = manifest.get("col_stats") or {}
    known = [stats[d][col][3] for d, r in plan.items() if r == "full"]
    return plan, [v for v in known if v is not None]


def avg_version(spark: SparkSession | None, table_dir: str, col: str,
                version: int | None = None, lower=None, upper=None,
                where: dict | None = None, detail: bool = False,
                as_of=None):
    """AVG of an integral stats column, composed from the two exact
    metadata aggregates: ``sum_version / count_version(count_col=col)``
    — SQL AVG semantics (nulls excluded from both numerator and
    denominator), with the same optional conjunctive range bounds.

    Exactness: both components are integers (integral columns are the
    only ones whose sums are recorded, the same float refusal as
    ``sum_version`` — a float column always scans), so the one double
    division happens at the very end, bit-identical to DuckDB/Spark
    computing AVG over the same rows via their decimal/int paths for
    the magnitudes at play. ``spark=None`` asserts the metadata-only
    path through both components. Each component folds its full dirs
    from the manifest; the dirs either component must scan are read
    by ONE residual aggregate over the union of their partial dirs,
    each component summing or counting only the rows of its own
    partial dirs. Returns None when no non-null in-range values exist,
    matching SQL AVG; ``detail=True`` returns ``(avg, {"sum": ...,
    "count": ...})`` with each component's dir tallies, exactly as
    ``sum_version`` and ``count_version`` report them.
    """
    from pyspark.sql import functions as F

    if where is not None and (lower is not None or upper is not None):
        raise ValueError(
            "avg_version takes either lower/upper (bounds on col) or "
            "where={col: (lower, upper)}, not both"
        )
    where = _bounded(where if where is not None else {col: (lower, upper)})
    manifest = _open_version(table_dir, version, as_of)
    s_plan, known = _sum_meta(manifest, col, where)
    n_plan, n = _count_meta(manifest, where, col)
    s_dirs = [d for d, r in s_plan.items() if r == "partial"]
    n_dirs = [d for d, r in n_plan.items() if r == "partial"]
    plan = {d: "partial" if d in s_dirs or d in n_dirs else "full"
            for d in s_plan}
    apart = set(s_dirs) != set(n_dirs)
    scan = _scan_partial(
        spark, table_dir, manifest, plan, where, "avg_version",
        "cannot be answered from manifest metadata (partial range "
        "overlap, missing stats/null counts/sums, or a pre-dir_rows "
        "manifest)", keep_pos=apart)
    if scan is not None and (not apart or _DV_COLS[0] in scan.columns):
        def only(dirs):  # col on the rows of ``dirs`` only
            if not apart:
                return F.col(col)
            d = F.regexp_extract(F.col(_DV_COLS[0]), _DV_DIR_RE, 1)
            return F.when(d.isin(dirs), F.col(col))

        row = scan.agg(F.sum(only(s_dirs)).alias("s"),
                       F.count(only(n_dirs)).alias("n")).first()
        if row["s"] is not None:
            known.append(row["s"])
        n += row["n"]
    s = sum(known) if known else None
    avg = (s / n) if (s is not None and n) else None
    info = {"sum": _tally(s_plan, "summed"),
            "count": _tally(n_plan, "counted")}
    return (avg, info) if detail else avg


def sum_version(spark: SparkSession | None, table_dir: str, col: str,
                version: int | None = None, lower=None, upper=None,
                where: dict | None = None, detail: bool = False,
                as_of=None):
    """SUM of an integral stats column from the manifest wherever
    provably possible — completing the metadata-aggregate set
    (COUNT/MIN/MAX/SUM, the same four Spark's DSv2 aggregate pushdown
    targets). Per-dir exact BIGINT sums are recorded at publish for
    integral stats columns only, where re-association is exact, so
    folding dir sums equals the full-scan sum bit-for-bit; float
    columns never record sums (pre-aggregation would change the
    association order) and always scan.

    Unbounded: every dir with a recorded sum contributes it (an
    all-null dir records None = contributes nothing, still metadata).
    Bounded (``lower``/``upper`` on ``col``, or ``where={...}`` on any
    columns): provably-missing dirs contribute 0, provably-covered
    dirs (the same ``_plan_dirs`` proof ``count_version`` uses)
    contribute their recorded sum, boundary-straddling dirs scan with
    the exact residual filter. A dir carrying deletion-vector rows
    scans: its recorded sum includes the deleted values. ``spark=None``
    asserts the metadata-only path by raising instead of scanning.
    Returns the sum (None when no non-null values exist, matching SQL
    SUM), or ``(sum, {"missed", "summed", "scanned"})`` with
    ``detail=True``.
    """
    if where is not None and (lower is not None or upper is not None):
        raise ValueError(
            "sum_version takes either lower/upper (bounds on col) or "
            "where={col: (lower, upper)}, not both"
        )
    if where is None:
        where = {col: (lower, upper)}
    where = _bounded(where)
    manifest = _open_version(table_dir, version, as_of)
    plan, known = _sum_meta(manifest, col, where)
    scan = _scan_partial(
        spark, table_dir, manifest, plan, where, "sum_version",
        "cannot be answered from manifest metadata (partial range "
        "overlap, non-integral column, or a pre-sum manifest)")
    if scan is not None:
        from pyspark.sql import functions as F

        s = scan.agg(F.sum(col).alias("s")).first()["s"]
        if s is not None:
            known.append(s)
    total = sum(known) if known else None
    return (total, _tally(plan, "summed")) if detail else total


def minmax_version(spark: SparkSession | None, table_dir: str, col: str,
                   version: int | None = None, as_of=None) -> tuple:
    """MIN/MAX of a stats column from the manifest alone: the global
    min is the min over per-dir recorded minima (max symmetric) —
    sound with NO null-count caveat because SQL MIN/MAX themselves
    ignore nulls, so an all-null or empty dir's [None, None] entry
    contributes nothing on either path. Dirs lacking a stats entry for
    ``col`` (published before stats collection started), or carrying
    deletion-vector rows (the recorded extrema may BE deleted rows),
    are scanned and folded in; ``spark=None`` asserts the
    metadata-only path by raising instead. Returns ``(min, max)`` —
    ``(None, None)`` for a table with no non-null values.
    Date/timestamp stats come back as their canonical strings (the
    manifest's serialized form, same order), exactly as
    ``read_version_stats_pruned`` compares them.
    """
    manifest = _open_version(table_dir, version, as_of)
    plan = _plan_dirs(manifest, meta=(col, 2))
    stats = manifest.get("col_stats") or {}
    ents = [stats[d][col] for d, r in plan.items() if r == "full"]
    mins = [e[0] for e in ents if e[0] is not None]
    maxs = [e[1] for e in ents if e[0] is not None]
    scan = _scan_partial(spark, table_dir, manifest, plan, None,
                         "minmax_version",
                         f"have no recorded stats for {col!r}")
    if scan is not None:
        from pyspark.sql import functions as F

        mn, mx = F.min(col), F.max(col)
        if dict(scan.dtypes).get(col) in ("date", "timestamp",
                                          "timestamp_ntz"):
            # stats serialize these as canonical strings — fold the
            # scanned values in the same form so min()/max() compare
            # within one type (string order == time order here)
            mn, mx = mn.cast("string"), mx.cast("string")
        row = scan.agg(mn.alias("mn"), mx.alias("mx")).first()
        if row["mn"] is not None:
            mins.append(row["mn"])
            maxs.append(row["mx"])

    # fold with SPARK's total order, where NaN sorts LARGER than every
    # other double (so a NaN stat loses every min and wins every max) —
    # plain Python min()/max() are order-dependent around NaN because
    # each NaN comparison is False, silently disagreeing with the scan
    def _key(v):
        return (isinstance(v, float) and v != v, v)

    return (min(mins, key=_key) if mins else None,
            max(maxs, key=_key) if maxs else None)


def fsck_table(table_dir: str, version: int | None = None,
               spark: SparkSession | None = None) -> list[str]:
    """Consistency audit of a published version against the bytes on
    disk — the fsck/VERIFY verb every table format grows once real
    operators depend on it. Returns a list of findings (empty = clean);
    never repairs anything (report, don't guess).

    Metadata checks (no Spark, O(manifest + footers)):
    - every listed data dir exists, and its parquet footer row count
      equals the manifest's ``dir_rows`` entry;
    - ``row_count`` equals Σ dir_rows − Σ deletion-vector cardinalities;
    - the DV sidecar exists, its per-dir counts sum to its total, and
      every entry addresses a dir the manifest still references;
    - every tag resolves to a published version;
    - per-dir stats entries with null-count > dir rows, or min > max,
      are flagged.

    Deep checks (``spark`` given, one scan per statted dir): recorded
    min/max/null-count/sum are recomputed from the data and compared —
    the check that catches a manifest edited by hand or a dir swapped
    underneath the table. DV-carrying dirs compare against the
    PHYSICAL rows (stats are recorded physical; the aggregates already
    degrade those dirs, so physical agreement is the right contract).
    """
    findings: list[str] = []
    m = _open_version(table_dir, version, None)
    version = m["version"]
    if m.get("bucket_by"):
        dirs = [f"v={version:06d}"]
    else:
        dirs = _chain_dirs(m)
    dir_rows = m.get("dir_rows") or {}
    actual_rows: dict[str, int] = {}
    for d in dirs:
        p = os.path.join(table_dir, d)
        if not fsio.exists(p):
            findings.append(f"missing data dir: {d}")
            continue
        actual_rows[d] = fsio.parquet_row_count(p)
        rec = dir_rows.get(d)
        if rec is not None and rec != actual_rows[d]:
            findings.append(
                f"dir_rows mismatch in {d}: manifest {rec}, "
                f"footers {actual_rows[d]}")
    dv = m.get("dv")
    dv_total = 0
    if dv:
        dv_total = dv["count"]
        if sum(dv["dir_counts"].values()) != dv_total:
            findings.append(
                "dv dir_counts sum "
                f"{sum(dv['dir_counts'].values())} != count {dv_total}")
        stale = sorted(set(dv["dir_counts"]) - set(dirs))
        if stale:
            findings.append(f"dv entries for unreferenced dirs: {stale}")
        if not fsio.exists(os.path.join(table_dir, dv["path"])):
            findings.append(f"missing dv sidecar: {dv['path']}")
    # two row_count checks: against the BYTES (catches swapped/truncated
    # data) and against the manifest's own dir_rows (catches a manifest
    # edited into self-inconsistency even when the data is intact)
    expected = sum(actual_rows.get(d, dir_rows.get(d, 0))
                   for d in dirs) - dv_total
    if not m.get("bucket_by") and m["row_count"] != expected:
        findings.append(
            f"row_count {m['row_count']} != footer rows − dv = {expected}")
    meta_expected = sum(dir_rows.get(d, actual_rows.get(d, 0))
                        for d in dirs) - dv_total
    if not m.get("bucket_by") and m["row_count"] != meta_expected:
        findings.append(
            f"row_count {m['row_count']} != Σ manifest dir_rows − dv = "
            f"{meta_expected}")
    for name, v in list_tags(table_dir).items():
        if not fsio.exists(_manifest_path(table_dir, v)):
            findings.append(f"tag {name!r} -> v{v} is not published")
    stats = m.get("col_stats") or {}
    for d, cols in stats.items():
        if d not in set(dirs):
            continue
        for c, ent in cols.items():
            mn, mx = ent[0], ent[1]
            try:
                if mn is not None and mx is not None and mn > mx:
                    findings.append(f"stats min > max for {c} in {d}")
            except TypeError:
                pass
            if (len(ent) > 2 and ent[2] is not None
                    and d in actual_rows and ent[2] > actual_rows[d]):
                findings.append(
                    f"null count {ent[2]} > rows {actual_rows[d]} "
                    f"for {c} in {d}")
    if spark is not None and stats and not m.get("bucket_by"):
        from pyspark.sql import functions as F

        for d, cols in stats.items():
            if d not in set(dirs):
                continue
            p = os.path.join(table_dir, d)
            if not fsio.has_parquet(p):
                continue
            # physical recompute with the SAME serialization rules the
            # writer used — one aggregate per dir; pre-evolution dirs
            # lack evolved columns and must carry the backfilled
            # all-null entry instead
            df_d = spark.read.parquet(p)
            present = set(df_d.columns)
            todo = [c for c in cols if c in present]
            live = _scan_meta(df_d, (todo, (), None))[0] if todo else {}
            for c, ent in cols.items():
                if c not in present:
                    if ent[0] is not None or ent[1] is not None:
                        findings.append(
                            f"column {c} absent in {d} but its stats "
                            f"entry is not the all-null backfill: "
                            f"{list(ent)}")
                    continue
                got = live[c]
                if list(got)[:len(ent)] != list(ent):
                    findings.append(
                        f"stats drift for {c} in {d}: manifest "
                        f"{list(ent)}, data {list(got)[:len(ent)]}")
    return findings


def read_manifest(table_dir: str, version: int) -> dict:
    return json.loads(fsio.read_text(_manifest_path(table_dir, version)))


#: (table_dir, version) -> (manifest mtime, batch_id). The mtime is
#: the staleness validator: versions are immutable once published, so a
#: cache hit costs one listing entry instead of a JSON read — but a
#: table dir deleted and RECREATED in the same process gets fresh
#: mtimes, so the refreshed manifest is re-read rather than served
#: stale (an exactly-once replay guard must never trust a cache across
#: a table wipe). Local paths carry ns mtimes, Hadoop paths ms — each
#: path is self-consistent, which is all the equality check needs.
_BATCH_ID_CACHE: dict[tuple[str, int], tuple[int, object]] = {}


def published_batch_ids(table_dir: str) -> set:
    """The ``batch_id`` recorded in every published manifest — the
    replay-detection set streaming sinks check before writing. Cost per
    call: ONE directory listing (names + mtimes in a single FS round
    trip — fsio.list_manifest_mtimes) + O(new versions) manifest reads,
    flat on a long-running stream (shared by streaming/ingest.py and
    streaming/foreach_batch.py)."""
    mtimes = fsio.list_manifest_mtimes(_versions_dir(table_dir))
    out = set()
    for name, mtime in mtimes.items():
        if not name.endswith(".json"):
            continue
        v = int(name.split(".")[0])
        key = (table_dir, v)
        hit = _BATCH_ID_CACHE.get(key)
        if hit is None or hit[0] != mtime:
            hit = (mtime, read_manifest(table_dir, v).get("batch_id"))
            _BATCH_ID_CACHE[key] = hit
        out.add(hit[1])
    return out


def history(spark: SparkSession, table_dir: str) -> DataFrame:
    """One row per published snapshot (version, parent, row_count,
    committed_at, operation, batch_id) — committed_at as an ISO-8601
    UTC string (the manifest's publish stamp; null for pre-stamping
    manifests), the anchor a user copies back into
    ``read_version(as_of=...)``; operation is what produced the commit
    (append/replace/compact/delete-cow/update-cow/merge-cow/delete-dv/
    restore/..., the DESCRIBE HISTORY column; null for pre-recording
    manifests); batch_id is the exactly-once replay key when a sink
    recorded one (foreachBatch sinks, the streaming write front door's
    mr4ver-stream-* keys, the batch writer's mr4ver-txn-* keys) —
    the forensic column for "did my retry double-commit"."""
    from datetime import datetime, timezone

    def _iso(epoch):
        if epoch is None:
            return None
        # microsecond precision, rounded NEVER-EARLY: the displayed
        # stamp is the documented AS-OF anchor, and any stamp below
        # committed_at — a seconds truncation, or fromtimestamp's
        # round-half-even landing half a microsecond short — resolves
        # to the PARENT version (version_at's at-or-before rule), so
        # the user would copy it back and silently read the previous
        # snapshot. The bump is self-verifying: dt.timestamp() is the
        # exact float the parsed ISO resolves back to.
        from datetime import timedelta

        dt = datetime.fromtimestamp(epoch, tz=timezone.utc)
        if dt.timestamp() < epoch:
            dt += timedelta(microseconds=1)
        return dt.isoformat(timespec="microseconds")

    rows = [
        (m["version"], m["parent"], m["row_count"],
         _iso(m.get("committed_at")), m.get("operation"),
         None if m.get("batch_id") is None else str(m["batch_id"]))
        for m in (read_manifest(table_dir, v) for v in list_versions(table_dir))
    ]
    return spark.createDataFrame(
        rows, "version long, parent long, row_count long, "
              "committed_at string, operation string, batch_id string"
    )


#: the manifest fields a NEW commit may inherit when it builds its
#: manifest by re-spreading a parent's/target's (DV deletes, restores):
#: exactly the structural/layout/stats/schema keys write_version itself
#: publishes. Everything else — "expectations" audit counts from a
#: streaming-merge parent, "restored_from" from a restore parent, any
#: caller manifest_extra — is per-commit provenance; carrying it
#: forward would misattribute it to a commit that didn't produce it.
_INHERITABLE_MANIFEST_KEYS = frozenset({
    "row_count", "schema", "bucket_by", "n_buckets", "sort_by",
    "zorder_by", "zorder_bits", "partition_by", "data_dirs",
    "schema_evolved", "stats_for", "col_stats", "bloom_for",
    "bloom_bits", "bloom", "dir_rows", "dir_parts", "dv",
})


def _inherited_manifest(manifest: dict) -> dict:
    """The re-spreadable subset of a parent manifest — see
    ``_INHERITABLE_MANIFEST_KEYS``. Per-commit fields (version, parent,
    committed_at, nonce, batch_id, operation, and any provenance
    extras) are the new commit's to set, never inherited."""
    return {k: v for k, v in manifest.items()
            if k in _INHERITABLE_MANIFEST_KEYS}


def layout_from_manifest(manifest: dict) -> dict:
    """The physical-layout fields of a manifest as ``write_version``
    kwargs. Maintenance rewrites (upsert, compact, streaming upsert
    sinks) MUST carry these through: a table bucketed/clustered/
    partitioned once is a standing contract that later joins and scans
    are exchange-free or pruned, and a rewrite that silently drops the
    layout breaks every downstream plan without an error."""
    sort_by = manifest.get("sort_by")
    if manifest.get("bucket_by") and sort_by == manifest["bucket_by"]:
        # write_version defaulted sort_by to the bucket keys; pass None
        # back so the default stays a default.
        sort_by = None
    return {
        "bucket_by": manifest.get("bucket_by"),
        "n_buckets": manifest.get("n_buckets"),
        "sort_by": sort_by,
        "zorder_by": manifest.get("zorder_by"),
        **({"zorder_bits": manifest["zorder_bits"]}
           if manifest.get("zorder_bits") else {}),
        "partition_by": manifest.get("partition_by"),
        # stats columns are a standing contract like the layout: a
        # rewrite that dropped them would silently stop metadata
        # skipping for every downstream stats-pruned read
        "stats_for": manifest.get("stats_for"),
        # bloom columns are the same kind of contract for point lookups
        "bloom_for": manifest.get("bloom_for"),
        **({"bloom_bits": manifest["bloom_bits"]}
           if manifest.get("bloom_bits") else {}),
    }


def upsert_version(spark: SparkSession, table_dir: str, updates: DataFrame,
                   key: str) -> int:
    """Keyed merge against the latest snapshot, published as a new
    version — the maintenance upsert with time travel for free. The
    previous snapshot's bucket/cluster/partition layout is preserved."""
    from mapreduce_4_spark.operators.maintenance import upsert

    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    layout = layout_from_manifest(read_manifest(table_dir, version))
    base = read_version(spark, table_dir, version)
    return write_version(upsert(base, updates, key), table_dir, **layout)


def delete_version(spark: SparkSession, table_dir: str,
                   keys: DataFrame | None = None, key: str | None = None,
                   predicate=None) -> int:
    """Targeted delete against the latest snapshot, published as a new
    version — the GDPR right-to-be-forgotten / retention pass with time
    travel and CDC for free: ``table_changes`` between the parent and
    the new version emits exactly the deleted rows as 'D' ops, and the
    streaming change feed delivers them to subscribers like any other
    change. The previous snapshot's bucket/cluster/partition layout is
    preserved (the delete must not cost downstream joins their
    exchange-free plans), and the deleted data physically disappears
    only when ``vacuum`` retires the parent snapshots — record that lag
    in any compliance story."""
    from mapreduce_4_spark.operators.maintenance import delete_rows

    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    layout = layout_from_manifest(read_manifest(table_dir, version))
    base = read_version(spark, table_dir, version)
    return write_version(
        delete_rows(base, keys=keys, key=key, predicate=predicate),
        table_dir, **layout,
    )


def _require_plain_table(pm: dict, table_dir: str, what: str) -> None:
    """Copy-on-write and deletion-vector commits operate at chain-dir
    granularity. Bucketed snapshots never qualify (the bucket files ARE
    the correctness contract). Clustered (sort_by/zorder_by) FULL
    snapshots don't either: dir-granular CoW on a one-dir table is a
    full rewrite that would silently uncluster it — route through
    upsert_version/delete_version, which preserve the layout. A
    clustered CHAIN (round 12: a clustered base taking appends, the
    discipline recorded) IS mutable at dir granularity: rewritten dirs
    land unclustered — the same bounded decay appends cause — while the
    recorded discipline stays on the manifest for compact_tail's
    layout-preserving fold / `table cluster` to re-establish."""
    if pm.get("bucket_by"):
        raise ValueError(
            f"{what} needs a plain or append-chain table; {table_dir} is "
            "bucketed — use upsert_version/delete_version "
            "(full rewrite, layout preserved) instead"
        )
    is_chain = len(pm.get("data_dirs") or []) > 1
    if (pm.get("sort_by") or pm.get("zorder_by")) and not is_chain:
        raise ValueError(
            f"{what} needs a plain or append-chain table; {table_dir} is "
            "a bucketed/clustered full snapshot — use "
            "upsert_version/delete_version (full rewrite, layout "
            "preserved) instead"
        )


def _collect_keys(keys, key: str, max_keys: int) -> list:
    """Normalize a delete/merge key set to a bounded driver-side list
    (nulls dropped — SQL ``IN`` never matches null). DataFrame inputs
    collect at most ``max_keys``+1 rows and fail LOUDLY beyond the cap:
    dir classification and the survivor ``isin`` filter are both
    broadcast-shaped, so an unbounded key set must route through the
    full-rewrite paths (join-based), never silently degrade."""
    if hasattr(keys, "select"):  # DataFrame
        rows = keys.select(key).limit(max_keys + 1).collect()
        vals = [r[0] for r in rows if r[0] is not None]
        if len(rows) > max_keys:
            raise KeyBudgetError(
                f"key set exceeds max_keys={max_keys}; a merge/delete "
                "this wide routes through delete_version_joined/"
                "merge_version_joined (one-scan join classification, "
                "no driver collect) or the full-rewrite "
                "upsert_version/delete_version"
            )
        return vals
    return [v for v in keys if v is not None]


def _cow_publish(spark: SparkSession, table_dir: str, pm: dict,
                 keep_dirs: list[str], new_df: DataFrame | None,
                 manifest_extra: dict | None = None,
                 operation: str = "cow") -> int:
    """Publish a copy-on-write commit: ``keep_dirs`` (relative chain
    dirs of the parent) carry into the new version BY REFERENCE — no
    data movement, stats/blooms/row counts/partition indexes carried
    with them (``_derive_manifest``) — and ``new_df`` (rewritten
    survivors and/or inserts, or compact_tail's folded tail; None for
    pure drops) lands as the one new dir. This is the
    file-level rewrite unit of Delta/Iceberg MERGE/DELETE expressed at
    this format's dir granularity: commit cost is O(touched dirs +
    new rows), never O(table). Vacuum's mark-and-sweep already keeps
    any dir a retained manifest references, so shared dirs outlive
    their original version exactly as appended dirs do.

    The new dir's stats and blooms are observed on its write job
    (``_write_observed``), so a rewrite is one Spark job: the survivors'
    scan, filter and write, with no read-back of the files just
    written. Only an observation that did not count exactly the footer
    rows falls back to one aggregate over the written dir
    (``_new_dir_meta``)."""
    version = pm["version"] + 1
    data_dir = _data_dir(table_dir, version)
    _reclaim_torn_write(table_dir, version)
    m = _derive_manifest(pm, keep_dirs)
    if new_df is None and not keep_dirs:
        # everything deleted: the empty table still needs a readable
        # snapshot — a schema-only dir (plain writes keep a schema
        # file; partitioned empty writes are skipped by the chain scan)
        new_df = spark.createDataFrame([], _scan_schema(pm))
    new_rows = 0
    if new_df is not None:
        observed = _write_observed(_conform_to_schema(new_df, pm),
                                   _meta_sets(m),
                                   _parquet_write(data_dir, m["partition_by"]))
        new_rows = fsio.parquet_row_count(data_dir)
        if new_rows == 0 and keep_dirs:
            # an all-dropped rewrite adds nothing: don't grow the chain
            fsio.delete(data_dir, recursive=True)
        else:
            _add_dir(m, f"v={version:06d}", new_rows,
                     *(_new_dir_meta(spark, m, data_dir, new_rows, observed)
                       if new_rows else (None, None)),
                     _hive_parts(data_dir) if m["partition_by"] else None)
    kept_rows = sum(
        (m["dir_rows"][d] if d in m["dir_rows"]
         else fsio.parquet_row_count(os.path.join(table_dir, d)))
        for d in keep_dirs
    )
    m.update(version=version, parent=pm["version"],
             row_count=kept_rows - (m["dv"] or {}).get("count", 0) + new_rows,
             batch_id=None, operation=operation)
    m.update(manifest_extra or {})
    return _publish(table_dir, m,
                    "recompute the commit from the new chain head")


def _sql_literal(v, ntz: bool = False) -> str | None:
    """``v`` as a SQL literal of the type ``F.lit(v)`` would give it, or
    None when there is no such rendering (the caller falls back to
    ``isin``). Strings go through their UTF-8 bytes, so no quote,
    backslash or parser escaping setting can change them; doubles and
    decimals through an exact cast from their repr; timestamps through
    the epoch microseconds PySpark's own converter computes. ``ntz``:
    the session prefers TIMESTAMP_NTZ, under which ``F.lit`` types a
    naive datetime differently (not rendered)."""
    import calendar
    import datetime as dt
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if -(1 << 31) <= v < (1 << 31):
            return str(v)
        return f"{v}L" if -(1 << 63) <= v < (1 << 63) else None
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        try:
            return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
        except UnicodeEncodeError:
            return None
    if isinstance(v, decimal.Decimal):
        _, digits, exp = v.as_tuple()
        if not isinstance(exp, int) or exp > 0:
            return None  # NaN/Infinity, or a negative-scale decimal
        prec = max(len(digits), -exp)
        return (f"CAST('{v}' AS DECIMAL({prec},{-exp}))" if prec <= 38
                else None)
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            if ntz:
                return None
            secs = time.mktime(v.timetuple())
        else:
            secs = calendar.timegm(v.utctimetuple())
        return f"TIMESTAMP_MICROS({int(secs) * 1_000_000 + v.microsecond}L)"
    if isinstance(v, dt.date):
        return f"DATE'{v.isoformat()}'"
    return None


def _in_list(col: str, vals: list):
    """``col IN (vals)`` as ONE Column built in one py4j call, whatever
    the key count: the values are rendered as typed SQL literals
    (``_sql_literal``) into a single ``F.expr``. ``F.col(col).isin(vals)``
    makes two py4j round trips per value — 0.3 s for a 600-key merge.
    Row for row it is the same predicate: every literal carries the
    type ``isin``'s ``F.lit`` would give it, so Spark coerces the
    comparison identically and the optimizer still plans ``In`` /
    ``InSet``; null semantics are SQL ``IN``'s. An empty list, or a
    value with no rendering, falls back to ``isin``."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    ntz = any(isinstance(v, dt.datetime) and v.tzinfo is None
              for v in vals) and is_timestamp_ntz_preferred()
    lits = [_sql_literal(v, ntz) for v in vals]
    if not lits or None in lits:
        return F.col(col).isin(vals)
    return F.expr(f"`{col.replace('`', '``')}` IN ({', '.join(lits)})")


def _delete_cond(key: str | None, vals: list | None, predicate,
                 where: dict | None):
    """The DELETE predicate as a definitely-TRUE Column (SQL DELETE
    semantics: only a provably-true predicate deletes; NULL keeps)."""
    from pyspark.sql import functions as F

    if key is not None:
        cond = _in_list(key, vals)
    elif predicate is not None:
        cond = predicate
    else:
        cond = None
        for c, (lo, hi) in where.items():
            if lo is not None:
                term = F.col(c) >= F.lit(lo)
                cond = term if cond is None else cond & term
            if hi is not None:
                term = F.col(c) <= F.lit(hi)
                cond = term if cond is None else cond & term
        if cond is None:
            raise ValueError("where bounds must not all be None")
    return cond.eqNullSafe(F.lit(True))


def _cow_dml(spark: SparkSession, table_dir: str, verb: str, joined: bool,
             keys=None, key: str | None = None, where: dict | None = None,
             assignments: dict | None = None,
             updates: DataFrame | None = None, detail: bool = False,
             max_keys: int = 1_000_000,
             manifest_extra: dict | None = None):
    """The one body of the six copy-on-write DML functions —
    ``{delete, update, merge}_version_{pruned, joined}``.

    1. Prologue: the latest version's manifest, ``_require_plain_table``,
       and the key/column checks.
    2. Classify the chain dirs into untouched (carried by reference),
       rewritten, and — for a range delete only — dropped whole.
       ``pruned`` classifies from the manifest in one ``_plan_dirs``
       call: keys as a point-lookup conjunct (driver-bounded by
       ``max_keys``), ``where`` as ranges; miss dirs are untouched.
       ``joined`` classifies by ``_dirs_holding_keys_joined``'s
       one-scan LeftSemi (exact, keys never collected).
    3. Scan the rewrite dirs live (deletion vectors honored) and apply
       the verb: delete drops matching rows, update rewrites
       ``assignments`` on them (evaluated against the OLD row, cast
       back to the column type), merge drops them and unions
       ``updates`` in. Pruned paths match by a definitely-TRUE
       ``isin``/range condition, joined paths by joins against the
       key set.
    4. ``_cow_publish`` under the verb's operation string."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    what = f"{verb}_version_{'joined' if joined else 'pruned'}"
    if not joined and (key is None) == (where is None):
        raise ValueError(
            f"{what} takes either keys+key or where={{col: (lower, upper)}}"
        )
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    pm = read_manifest(table_dir, version)
    _require_plain_table(pm, table_dir, what)
    fields = {f["name"] for f in pm["schema"]["fields"]}
    if key is not None and key not in fields:
        raise ValueError(f"{key!r} is not a column of {table_dir}")
    unknown = set(assignments or ()) - fields
    if unknown:
        raise ValueError(
            f"update sets columns {sorted(unknown)} the table lacks — "
            "evolve the schema with an additive append first"
        )
    extra = set(updates.columns if updates is not None else ()) - fields
    if extra:
        raise ValueError(
            f"updates carry columns {sorted(extra)} the table lacks — "
            "evolve the schema with an additive append first"
        )
    dirs = _chain_dirs(pm)
    key_src = updates if updates is not None else keys
    dropped: list[str] = []
    if joined:
        keyset = key_src.select(key).dropna().distinct()
        rewrite = _dirs_holding_keys_joined(
            spark, pm, table_dir, keyset, key, dirs)
    else:
        vals = (_collect_keys(key_src, key, max_keys)
                if key is not None else None)
        plan = _plan_dirs(
            pm, where=where, probes={key: [vals]} if vals is not None
            else None,
            positions=lambda c: _bloom_positions(spark, pm, c))
        # every row of a "full" dir provably matches (only a range can
        # prove that): a delete drops it whole with zero data movement
        # (the retention shape), an update must still rewrite it
        drop_full = verb == "delete"
        dropped = [d for d in dirs if drop_full and plan[d] == "full"]
        rewrite = [d for d in dirs if plan[d] == "partial"
                   or (plan[d] == "full" and not drop_full)]
        cond = _delete_cond(key, vals, None, where)
    moved = set(rewrite) | set(dropped)
    untouched = [d for d in dirs if d not in moved]
    new_df = None
    if rewrite:
        scan = _scan_dirs(
            spark, pm, [os.path.join(table_dir, d) for d in rewrite],
            table_dir,
        )
        if verb == "update":
            if joined:
                flag = "__mr4_upd_hit"
                rows = scan.join(
                    keyset.withColumn(flag, F.lit(True)), key, "left")
                hit = F.coalesce(F.col(flag), F.lit(False))
            else:
                rows, hit = scan, cond
            types = dict(scan.dtypes)

            def _new_val(c):
                v = assignments[c]
                return v if isinstance(v, Column) else F.lit(v)

            new_df = rows.select(*[
                (F.when(hit, _new_val(c)).otherwise(F.col(c))
                 .cast(types[c]).alias(c))
                if c in assignments else F.col(c)
                for c in scan.columns
            ])
        else:  # delete, and merge's survivors
            new_df = (scan.join(keyset, key, "left_anti") if joined
                      else scan.filter(~cond))
    if verb == "merge":
        # every update row — matched (update) or not (insert) — lands
        # in the one new dir
        ups = _conform_to_schema(updates, pm)
        new_df = ups if new_df is None else new_df.unionByName(ups)
    v = _cow_publish(spark, table_dir, pm, untouched, new_df,
                     manifest_extra=manifest_extra,
                     operation=f"{verb}-cow" + ("-joined" if joined else ""))
    info = {"untouched": len(untouched), "rewritten": len(rewrite)}
    if verb == "delete":
        info = {"dropped": len(dropped), **info}
    return (v, info) if detail else v


def delete_version_pruned(spark: SparkSession, table_dir: str,
                          keys=None, key: str | None = None,
                          where: dict | None = None,
                          detail: bool = False,
                          max_keys: int = 1_000_000):
    """Copy-on-write DELETE that rewrites ONLY the chain dirs provably
    holding affected rows — the dir-granular form of Delta/Iceberg's
    file-level copy-on-write, and the scale fix for ``delete_version``'s
    full-table rewrite. Classification per dir, all from the manifest
    already in hand:

    - range ``where={col: (lo, hi), ...}``: ``_range_relation`` —
      "miss" dirs are untouched (carried by reference), "full" dirs are
      DROPPED WHOLE (every row provably matches: the retention delete
      on a time-ordered chain removes months with zero data movement,
      the partition-drop move), only boundary "partial" dirs rewrite.
    - keyed (``keys``+``key``, list or DataFrame, driver-bounded by
      ``max_keys``): a dir is untouched when its recorded [min, max]
      window excludes every key, or its bloom filter proves every
      window-surviving key absent (``bloom_for`` tables). GDPR erasure
      over a bloom-indexed chain therefore rewrites ~the dirs actually
      holding those ids.

    Survivor semantics match ``delete_rows``/SQL DELETE: only
    definitely-matching rows delete (NULL predicate keeps; a null key
    never matches). Deletion-vector rows already on the table are
    honored (rewritten dirs are scanned live) and carried for kept
    dirs. Returns the new version; with ``detail=True``,
    ``(version, {"dropped", "untouched", "rewritten"})`` dir tallies —
    the commit-cost proof. At 100 TB: commit cost is O(rewritten dirs),
    and the common retention shape is pure manifest arithmetic.
    """
    return _cow_dml(spark, table_dir, "delete", False, keys=keys, key=key,
                    where=where, detail=detail, max_keys=max_keys)


def update_version_pruned(spark: SparkSession, table_dir: str,
                          assignments: dict, keys=None,
                          key: str | None = None,
                          where: dict | None = None,
                          detail: bool = False,
                          max_keys: int = 1_000_000):
    """Copy-on-write UPDATE — the third DML verb beside
    ``delete_version_pruned`` and ``merge_version_pruned``: rows
    matching the condition get ``assignments``' new column values (Column
    expressions or literals, evaluated against the OLD row — SQL
    UPDATE semantics, and only a definitely-TRUE condition updates),
    everything else carries unchanged. Dir classification is the
    delete rule — range "miss" / key-absent dirs carry BY REFERENCE,
    and only dirs that may hold matching rows rewrite — so a targeted
    correction on a 100 TB chain costs O(touched dirs). Updating a
    partition column is legal: the rewritten dir re-partitions its
    rows under the chain's scheme. Returns the new version; with
    ``detail=True``, ``(version, {"untouched", "rewritten"})``."""
    return _cow_dml(spark, table_dir, "update", False, keys=keys, key=key,
                    where=where, assignments=assignments, detail=detail,
                    max_keys=max_keys)


def merge_version_pruned(spark: SparkSession, table_dir: str,
                         updates: DataFrame, key: str,
                         detail: bool = False,
                         max_keys: int = 1_000_000,
                         manifest_extra: dict | None = None):
    """Copy-on-write keyed MERGE (upsert) that rewrites ONLY the chain
    dirs provably holding updated keys: untouched dirs carry by
    reference, matched base rows drop from the rewritten dirs, and
    every update row — matched (update) or not (insert) — lands in the
    one new dir. Same output as ``operators.maintenance.upsert`` /
    ``upsert_version`` (updates win on key collision, at most one
    surviving row per updated key when the base was key-unique),
    proven by the parity test; the difference is the commit cost:
    O(dirs holding updated keys + |updates|), not O(table). Dir
    classification = the keyed-delete rule (min/max window, then bloom
    when recorded). Update keys are driver-bounded by ``max_keys`` —
    broadcast-scale merges are the CoW sweet spot; wider merges
    rewrite via ``upsert_version``. Returns the new version; with
    ``detail=True``, ``(version, {"untouched", "rewritten"})``."""
    return _cow_dml(spark, table_dir, "merge", False, key=key,
                    updates=updates, detail=detail, max_keys=max_keys,
                    manifest_extra=manifest_extra)


def _dirs_holding_keys_joined(spark: SparkSession, pm: dict,
                              table_dir: str, keys_df: DataFrame,
                              key: str, dirs: list[str]) -> list[str]:
    """The chain dirs holding at least one LIVE row whose ``key``
    appears in ``keys_df`` — the join-based twin of the planner's
    point-lookup verdict for key sets too wide to collect:
    one chain scan with the (file, row-index) metadata pair attached,
    a LeftSemi join against the key set, and a distinct over the
    derived dir names. The only driver-side materialization is the
    dir list itself (bounded by chain length, never by |keys|), and
    the classification is EXACT (no bloom false positives), at the
    price of the one scan.

    The scan itself is pre-pruned by the key set's [min, max]
    ENVELOPE (one tiny distributed aggregate — two scalars on the
    driver, never the keys): a dir whose recorded window lies wholly
    outside the envelope provably holds none of the keys and never
    enters the classification scan. A retention-shaped or
    range-correlated key set therefore classifies against only the
    covering dirs; a keyspace-spanning GDPR set degrades to the full
    scan, which is the honest floor."""
    from pyspark.sql import functions as F

    env = keys_df.agg(F.min(key), F.max(key)).first()
    if env[0] is not None:
        # a dir whose window misses [kmin, kmax] (or that is empty or
        # all-null for the key) provably holds none of the keys
        plan = _plan_dirs(pm, where={key: (env[0], env[1])})
        dirs = [d for d in dirs if plan[d] != "miss"]
        if not dirs:
            return []
    dirs_abs = [os.path.join(table_dir, d) for d in dirs]
    scan = _scan_dirs(spark, pm, dirs_abs, table_dir, keep_pos=True)
    if _DV_COLS[0] not in scan.columns:
        return []  # all-empty chain: nothing can hold a key
    hit = (
        scan.join(keys_df.select(key).dropna(), key, "leftsemi")
        .select(F.regexp_extract(F.col(_DV_COLS[0]), _DV_DIR_RE, 1)
                .alias("d"))
        .distinct()
        .collect()
    )
    hitset = {r["d"] for r in hit}
    return [d for d in dirs if d in hitset]


def delete_version_joined(spark: SparkSession, table_dir: str,
                          keys: DataFrame, key: str,
                          detail: bool = False):
    """Copy-on-write keyed DELETE for UNBOUNDED key sets — the
    join-based path ``_collect_keys``'s loud ``max_keys`` failure
    routes to. Where ``delete_version_pruned`` classifies dirs from
    the manifest (min/max windows + blooms, zero scans) but must hold
    the key set on the driver, this variant classifies with ONE chain
    scan LeftSemi-joined against the key DataFrame (exact, fully
    distributed, driver materializes only the dir list) and deletes
    via a LeftAnti join (no ``isin``). Commit cost: O(scan to
    classify + rewritten dirs) — on a 100 TB chain that is one
    read-only pass plus the touched dirs' rewrite, vs the O(table)
    WRITE of a full-rewrite delete. Same SQL DELETE semantics (null
    keys never match, DV rows honored and carried). Returns the new
    version; ``detail=True`` adds the dir tallies."""
    return _cow_dml(spark, table_dir, "delete", True, keys=keys, key=key,
                    detail=detail)


def update_version_joined(spark: SparkSession, table_dir: str,
                          assignments: dict, keys: DataFrame,
                          key: str, detail: bool = False):
    """Copy-on-write keyed UPDATE for UNBOUNDED key sets — completes
    the joined DML triad beside ``delete_version_joined`` and
    ``merge_version_joined``. Dir classification is the one-scan
    LeftSemi; inside rewritten dirs the match flag arrives by a left
    join against the key DataFrame (no ``isin``), and matching rows
    get ``assignments``' values evaluated against the OLD row (SQL
    UPDATE semantics — Column expressions or literals, cast back to
    the column's type). Null keys never match. Returns the new
    version; ``detail=True`` adds the dir tallies."""
    return _cow_dml(spark, table_dir, "update", True, keys=keys, key=key,
                    assignments=assignments, detail=detail)


def merge_version_joined(spark: SparkSession, table_dir: str,
                         updates: DataFrame, key: str,
                         detail: bool = False,
                         manifest_extra: dict | None = None):
    """Copy-on-write keyed MERGE (upsert) for UNBOUNDED update sets —
    ``merge_version_pruned``'s join-based twin: dir classification is
    the one-scan LeftSemi of ``_dirs_holding_keys_joined`` and matched
    base rows drop via LeftAnti (both fully distributed; the driver
    holds only the dir list), so a 10^8-row merge against a 100 TB
    chain costs one classification pass + the touched dirs + the
    update volume, never a full-table rewrite. Output pinned equal to
    ``upsert_version``/``merge_version_pruned`` by the parity tests
    (updates win on key collision). Returns the new version;
    ``detail=True`` adds the dir tallies."""
    return _cow_dml(spark, table_dir, "merge", True, key=key,
                    updates=updates, detail=detail,
                    manifest_extra=manifest_extra)


def delete_version_dv(spark: SparkSession, table_dir: str,
                      keys=None, key: str | None = None,
                      predicate=None, where: dict | None = None,
                      detail: bool = False, max_keys: int = 1_000_000):
    """Merge-on-read DELETE: publish a new version that removes rows by
    recording their (file, row position) pairs in a deletion-vector
    sidecar — NO data file is rewritten, the Iceberg v2 positional
    delete / Delta deletion vector. Commit cost is O(matched rows) (one
    scan to locate them + one tiny sidecar write), so a 100-row GDPR
    erasure on a 100 TB table costs seconds; the read-side tax is one
    (broadcast while small) anti-join, folded away by the next
    ``compact``/``compact_tail``. Every reader honors the DV (the
    shared ``_scan_dirs`` path), COUNT stays metadata-exact
    (``dir_counts`` arithmetic), and SUM/MIN/MAX soundly degrade
    DV-carrying dirs to scans. Delete condition: ``keys``+``key``
    (IN-list), a boolean ``predicate`` Column, or range ``where`` —
    definitely-TRUE semantics like every delete path here. Repeated DV
    deletes accumulate into a fresh sidecar (already-deleted rows are
    excluded from the scan, so entries never duplicate). The locating
    scan reads only the dirs ``_plan_dirs`` does not prove free of
    matches (keys as a point lookup, ``where`` as ranges; a
    ``predicate`` scans every dir). Returns the new version;
    ``detail=True`` adds ``{"deleted", "dv_rows"}``."""
    from pyspark.sql import functions as F

    if sum(x is not None for x in (key, predicate, where)) != 1:
        raise ValueError(
            "delete_version_dv takes exactly one of keys+key, "
            "predicate, or where"
        )
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    pm = read_manifest(table_dir, version)
    _require_plain_table(pm, table_dir, "delete_version_dv")
    vals = _collect_keys(keys, key, max_keys) if key is not None else None
    # live scan (rows already deleted excluded) WITH the (file, pos)
    # join key still attached, over the dirs the planner cannot prove
    # free of matches: keys probe as a point lookup, ``where`` prunes
    # as ranges, a ``predicate`` Column proves nothing (every dir)
    plan = _plan_dirs(
        pm, where=where, probes={key: [vals]} if vals is not None else None,
        positions=lambda c: _bloom_positions(spark, pm, c))
    scan = _scan_dirs(spark, pm, _kept(table_dir, plan), table_dir,
                      keep_pos=True)
    dv = old_dv = pm.get("dv")
    total = old_total = old_dv["count"] if old_dv else 0
    # an all-empty (or all-missed) scan deletes nothing
    if _DV_COLS[0] in scan.columns:
        new_deletes = scan.filter(
            _delete_cond(key, vals, predicate, where)
        ).select(F.col(_DV_COLS[0]).alias("file"),
                 F.col(_DV_COLS[1]).alias("pos"))
        if old_dv:
            # fold the previous sidecar in, dropping STALE entries —
            # rows of dirs a copy-on-write commit has since rewritten
            # out of the chain (harmless to reads, but they'd inflate
            # the per-dir counts the row_count arithmetic trusts)
            new_deletes = new_deletes.unionByName(
                spark.read.schema(_DV_SCHEMA).parquet(
                    os.path.join(table_dir, old_dv["path"]))
                .filter(_dv_dir_col().isin(_chain_dirs(pm)))
            )
        nonce = uuid.uuid4().hex[:12]
        dv_rel = os.path.join("_dv", f"{nonce}.parquet")
        dv_abs = os.path.join(table_dir, dv_rel)
        # exact per-dir cardinalities (the numbers count_version's
        # metadata arithmetic subtracts), observed on the sidecar's own
        # write: one prefix test per chain dir and sidecar row — every
        # chain dir, scanned or not, since the folded older sidecar can
        # name any of them. Every entry names a chain dir, so the
        # counts must add up to the footer rows; the sidecar is read
        # back otherwise.
        dirs = _chain_dirs(pm)
        got = _observe_write(
            new_deletes.coalesce(1),
            [F.count_if(F.col("file").startswith(f"{d}/")).alias(f"d{i}")
             for i, d in enumerate(dirs)],
            lambda frame: frame.write.mode("errorifexists").parquet(dv_abs))
        dir_counts = got and {d: got[f"d{i}"] for i, d in enumerate(dirs)
                              if got[f"d{i}"]}
        if not got or got[_OBS_ROWS] != fsio.parquet_row_count(dv_abs) \
                or sum(dir_counts.values()) != got[_OBS_ROWS]:
            counts = (
                spark.read.schema(_DV_SCHEMA).parquet(dv_abs)
                .groupBy(_dv_dir_col().alias("d"))
                .count().collect()
            )
            dir_counts = {r["d"]: int(r["count"]) for r in counts}
        if sum(dir_counts.values()):
            total = sum(dir_counts.values())
            dv = {"path": dv_rel, "count": total, "dir_counts": dir_counts}
        else:
            fsio.delete(dv_abs, recursive=True)  # no-op delete: no sidecar
    n_new = total - old_total
    v = _publish(table_dir, {
        **_inherited_manifest(pm),
        "version": version + 1,
        "parent": version,
        "batch_id": None,
        "row_count": pm["row_count"] - n_new,
        "dv": dv,
        "operation": "delete-dv",
    }, "recompute the deletion vector from the new chain head")
    return (v, {"deleted": n_new, "dv_rows": total}) if detail else v


def restore_version(table_dir: str, version: int) -> int:
    """RESTORE: publish a NEW version whose content is an older
    version's — pure manifest arithmetic, zero data movement (the new
    manifest references the target's data dirs; vacuum's mark-and-sweep
    already keeps referenced dirs alive). This is Delta's RESTORE /
    Iceberg's rollback expressed in this format: rolling a 100 TB table
    back from a bad publish costs one JSON write, and the bad version
    stays in history for forensics (``table_changes`` across the
    restore shows the rollback as CDC). Bucketed snapshots are refused
    (their catalog binding derives the data path from the version
    number); restore those by re-publishing ``read_version(...,
    version=target)`` through ``write_version``. Raises if the target
    was vacuumed. No SparkSession needed."""
    tm = read_manifest(table_dir, version)  # raises if not published
    if tm.get("bucket_by"):
        raise ValueError(
            "restore_version cannot reference a bucketed snapshot's "
            "dirs (the catalog binding is version-addressed) — "
            "re-publish read_version(..., version=target) instead"
        )
    latest = latest_version(table_dir)
    return _publish(table_dir, {
        **_inherited_manifest(tm),
        "version": latest + 1,
        "parent": latest,
        "batch_id": None,
        "data_dirs": _chain_dirs(tm),
        "restored_from": version,
        "operation": "restore",
    }, "restore again from the new chain head")


def publish_checked(df: DataFrame, table_dir: str, expectations: dict,
                    mode: str = "fail", quarantine_dir: str | None = None,
                    **layout) -> int:
    """Constraint-enforced publish — Delta CHECK constraints / DLT
    expectations for this table format. ``expectations`` maps rule name
    -> boolean Column that is True when VIOLATED (the
    ``operators.maintenance.validate`` contract, so the same rules serve
    the batch DQ gate and the write path).

    ``mode='fail'``: count violations in ONE pass first; any violation
    aborts with per-rule counts and NO version is written (the check
    runs before any data lands, so a refused publish leaves the table
    untouched). ``mode='drop'``: publish only rows violating NO rule;
    per-rule counts and total dropped rows are recorded in the manifest
    — the audit trail DLT calls expectation metrics. A NULL rule result
    is not a definite violation and the row is kept, matching SQL CHECK
    semantics.

    Scale: one extra aggregate pass in fail mode (conditional counts,
    map-side combined); drop mode folds the filter into the write scan.
    """
    from mapreduce_4_spark.operators.maintenance import apply_expectations

    if mode not in ("fail", "drop"):
        raise ValueError(f"unknown mode: {mode!r}")
    if not expectations:
        raise ValueError("expectations must not be empty")
    counts, kept = apply_expectations(df, expectations)
    if mode == "fail":
        bad = {k: v for k, v in counts.items() if v}
        if bad:
            raise ValueError(
                f"publish refused for {table_dir}: expectation violations "
                f"{bad}"
            )
        return write_version(
            df, table_dir,
            manifest_extra={"expectations": {k: 0 for k in counts}},
            **layout,
        )
    n_dropped = int(sum(counts.values()))
    version = write_version(
        kept, table_dir,
        manifest_extra={
            "expectations": {k: int(v) for k, v in counts.items()},
            "rows_dropped_by_expectations_upper_bound": n_dropped,
        },
        **layout,
    )
    if quarantine_dir is not None and n_dropped > 0:
        # n_dropped == 0 writes nothing: a clean publish must not append
        # an empty snapshot to the dead-letter table's version history
        # (vacuum workload and audit noise scale with version count).
        # dead-letter path: the dropped rows land in their own versioned
        # table (same schema), tagged with the main table's version so
        # an operator can line up every quarantine batch with the
        # publish that rejected it. Quarantine publishes AFTER the main
        # table: a crash in between loses only the audit copy, never
        # accepted data, and the manifest counts above still record the
        # drop.
        from pyspark.sql import functions as F

        violated = None
        for cond in expectations.values():
            c = cond.eqNullSafe(F.lit(True))
            violated = c if violated is None else (violated | c)
        write_version(
            df.filter(violated), quarantine_dir,
            manifest_extra={"quarantined_from_version": version},
        )
    return version


def compact(spark: SparkSession, table_dir: str, target_files: int = 1) -> int:
    """Rewrite the latest snapshot into ``target_files`` files as a NEW
    version — the small-files maintenance pass. Readers of the previous
    version are untouched (snapshots are immutable); vacuum reclaims it
    when it ages out. The snapshot's layout is preserved: bucketed
    tables recompact to one file per bucket, clustered tables re-range-
    partition into ``target_files`` files, partitioned tables keep their
    directory scheme."""
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    layout = layout_from_manifest(read_manifest(table_dir, version))
    latest = read_version(spark, table_dir, version)
    op = {"manifest_extra": {"operation": "compact"}}
    if layout["bucket_by"]:
        # one task ⇒ one file per bucket, the densest legal layout for a
        # bucketed table (file count is owned by the bucket spec)
        return write_version(latest.coalesce(1), table_dir, **op, **layout)
    if layout["sort_by"] or layout.get("zorder_by"):
        return write_version(
            latest, table_dir, n_files=target_files, **op, **layout
        )
    return write_version(latest.coalesce(target_files), table_dir,
                         **op, **layout)


def compact_tail(spark: SparkSession, table_dir: str,
                 keep_base: int = 1,
                 target_files: int | None = None) -> int | None:
    """Tiered (LSM-style) compaction for append chains: fold every
    chain dir AFTER the first ``keep_base`` into ONE new dir, leaving
    the base dirs — typically the bulk-seeded snapshot that dwarfs the
    trickle — untouched. Cost is O(rows accumulated by the tail), not
    O(corpus): the full ``compact()`` at a 10^9-doc corpus rewrites
    10^9 rows to fold a 10^3-dir chain of 10-row appends, which is why
    SCALE.md's round-10 probe found full-fold cadence amortizing WORSE
    than no compaction at 200k docs (~85 s corpus-proportional spike
    every K batches) — this fold costs only the trickle it removes.

    The result is a normal immutable version whose ``data_dirs`` is
    ``base_dirs + [the folded dir]`` — chain length drops to
    ``keep_base + 1`` — with the parent's partitioning preserved (the
    folded dir is hive-partitioned the same way, so
    ``read_version_pruned`` keeps pruning it). Publish order is the
    table format's invariant one: folded data first, manifest last; a
    crash in between leaves the old chain live and an orphaned
    ``v=*`` dir that ``vacuum``'s mark-and-sweep reclaims.

    Returns the new version, or None when there is nothing to fold
    (full snapshot, or fewer than two tail dirs — folding one dir
    would be pure write churn).

    ``target_files=None`` (the default) means UNSPECIFIED: plain folds
    land as one file, clustered folds (a recorded sort_by/zorder_by
    discipline) as one file per shuffle partition. Any explicit value
    — including 1 — is honored verbatim.

    Each fold re-reads the PREVIOUS folded dir (the tail accumulates),
    so over a month-long trickle the per-fold cost grows with total
    ingested trickle. The two-level schedule keeps it bounded: tail
    folds at the 10^2-batch cadence for the chain-listing term, plus
    an occasional full ``compact()`` (10^4-batch mark, or off-peak)
    that absorbs the accumulated tail into the base and resets the
    fold cost to zero.
    """
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published versions in {table_dir}")
    if keep_base < 0:
        raise ValueError("keep_base must be >= 0")
    manifest = read_manifest(table_dir, version)
    dirs = manifest.get("data_dirs")
    if not dirs or len(dirs) < keep_base + 2:
        return None
    base, tail = dirs[:keep_base], dirs[keep_base:]
    part_by = manifest.get("partition_by") or None
    tail_abs = [os.path.join(table_dir, d) for d in tail]
    dv = manifest.get("dv")
    dv_in_tail = bool(dv) and any(
        dv["dir_counts"].get(d) for d in tail)
    rows = None
    if any(fsio.has_parquet(p) for p in tail_abs):
        # deletion-vector rows in the tail FOLD AWAY here: the live
        # scan (DV anti-join applied) is what lands in the folded dir,
        # so the sidecar debt for these dirs is retired by the same
        # maintenance pass that bounds the chain
        rows = _scan_dirs(spark, manifest, tail_abs,
                          table_dir if dv_in_tail else None)
        # partitioned: one file per partition value in the folded dir
        # (not shuffle-tasks x values tiny files) — file count is what
        # the chain's listing cost scales with
        rows = (rows.repartition(*part_by) if part_by
                else rows.coalesce(target_files or 1))
    # layout-preserving fold (round 12): when the chain RECORDS a
    # clustering discipline (a sort_by/zorder_by base that trickle
    # appends carried forward), re-apply it to the folded dir — the
    # tail's layout decay is bounded to the unfolded trickle instead of
    # accumulating until a whole-table `table cluster` rewrite. A
    # single-file fold would erase the discipline's skipping value, so
    # a clustered fold with target_files UNSPECIFIED (None) defaults to
    # the session's shuffle parallelism; any explicit value — including
    # 1 — is honored.
    sort_disc = manifest.get("sort_by")
    z_disc = manifest.get("zorder_by")
    if rows is not None and (sort_disc or z_disc):
        if part_by:
            # hive dirs already partition the fold; cluster WITHIN them
            rows = rows.sortWithinPartitions(*(sort_disc or []))\
                if sort_disc else rows
        else:
            # None = unspecified: default to the session's shuffle
            # parallelism (an explicit target_files — including 1 — is
            # always honored); a non-integer conf value like 'auto'
            # falls back to Spark's stock 200
            if target_files is not None:
                n = target_files
            else:
                try:
                    n = int(spark.conf.get(
                        "spark.sql.shuffle.partitions"))
                except (TypeError, ValueError):
                    n = 200
            if z_disc:
                bits = manifest.get("zorder_bits") or 8
                rows = (
                    rows.withColumn(
                        "__mr4_zval", _zorder_col(rows, z_disc, bits))
                    .repartitionByRange(n, "__mr4_zval")
                    .sortWithinPartitions("__mr4_zval")
                    .drop("__mr4_zval")
                )
            else:
                rows = (rows.repartitionByRange(n, *sort_disc)
                        .sortWithinPartitions(*sort_disc))
    # a zero-row tail (partitioned appends keep no schema-only file)
    # writes no folded dir and must not LIST one: the manifest's
    # data_dirs only ever names dirs that exist on disk
    if rows is None and not base:
        return None  # keep_base=0 over an all-empty chain: nothing real
    # a keep-these-dirs-plus-one-new-dir commit: base dirs carry their
    # stats/blooms/counts/DV entries by reference; the folded dir gets
    # stats and blooms observed on the fold's write (same content as
    # the tail it replaced, but recomputed rather than merged so the
    # fold can only tighten after deletes ever land in a chain) and an
    # exact footer count. Tail DV entries folded away above; an emptied DV
    # releases its sidecar to vacuum.
    return _cow_publish(spark, table_dir, manifest, base, rows,
                        operation="compact-tail")


def vacuum(table_dir: str, keep_last: int = 1,
           staged_ttl_s: float = 24 * 3600.0) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (data + manifest,
    manifest FIRST so concurrent readers never see a published version
    whose data is disappearing). Returns removed versions.

    Append-chain aware: a retained manifest may reference OLDER data
    dirs through its ``data_dirs`` list, so a doomed version's manifest
    always goes, but a data dir is removed only when no retained
    manifest still reads it — the same liveness rule a lakehouse
    format's garbage collection applies to its file lists. The dir
    sweep is mark-and-sweep over EVERY ``v=*`` dir on disk, not just
    the doomed versions' own dirs: a dir kept alive in an earlier
    vacuum by a since-compacted chain manifest has no manifest of its
    own anymore, and a doomed-only sweep would orphan it forever
    (append -> vacuum -> compact -> vacuum leaked exactly that way).

    Staged dirs (write_version_concurrent's nonce'd data) get the same
    liveness rule plus a TTL: an unreferenced ``_staged/<nonce>`` is
    either a crashed concurrent writer's garbage or an IN-FLIGHT
    writer that staged but has not committed yet — the two are
    indistinguishable from the filesystem, so only dirs older than
    ``staged_ttl_s`` are swept (the retention-window compromise every
    lakehouse vacuum makes; set it well above the longest plausible
    stage-to-commit latency)."""
    import re

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(table_dir)
    # tagged versions are retention overrides: a tag means "this exact
    # snapshot must stay reproducible", so it never ages out while the
    # tag exists (Iceberg tag semantics)
    tagged = set(list_tags(table_dir).values())
    window = set(versions[-keep_last:] if keep_last < len(versions)
                 else versions)
    doomed = [v for v in versions if v not in window and v not in tagged]
    kept = [v for v in versions if v in window or v in tagged]
    live_dirs = set()
    live_dv = set()
    for v in kept:
        m = read_manifest(table_dir, v)
        for d in _chain_dirs(m):
            live_dirs.add(d)
        if m.get("dv"):
            live_dv.add(m["dv"]["path"])
    for v in doomed:
        fsio.delete(_manifest_path(table_dir, v))
    for entry in fsio.listdir(table_dir):
        if (re.fullmatch(r"v=\d{6}", entry)
                and entry not in live_dirs
                and fsio.is_dir(os.path.join(table_dir, entry))):
            fsio.delete(os.path.join(table_dir, entry), recursive=True)
    staged_root = os.path.join(table_dir, "_staged")
    for name, age in fsio.list_child_ages_s(staged_root).items():
        if (os.path.join("_staged", name) not in live_dirs
                and age > staged_ttl_s):
            fsio.delete(os.path.join(staged_root, name), recursive=True)
    # deletion-vector sidecars follow the staged-dir rule: unreferenced
    # by every retained manifest AND older than the TTL (a younger one
    # may belong to an in-flight delete_version_dv that wrote its
    # sidecar but hasn't published its manifest yet)
    dv_root = os.path.join(table_dir, "_dv")
    for name, age in fsio.list_child_ages_s(dv_root).items():
        if (os.path.join("_dv", name) not in live_dv
                and age > staged_ttl_s):
            fsio.delete(os.path.join(dv_root, name), recursive=True)
    return doomed


def table_changes(spark: SparkSession, table_dir: str, key: str,
                  from_version: int | None = None,
                  to_version: int | None = None,
                  compare: list[str] | None = None,
                  since=None) -> DataFrame:
    """Change data feed between two published versions (CDC read):
    Delta's ``table_changes`` / Iceberg changelog scan over this table
    format, computed as one full-outer join of the two snapshots
    (operators.maintenance.snapshot_diff_aligned). ``compare`` defaults
    to the union of both snapshots' non-key columns, with typed-null
    padding when the schema evolved between the versions — the same
    alignment the streaming feed uses, so batch and feed agree on
    evolved schemas by construction.

    The base is named by ``from_version`` OR by ``since`` (a timestamp —
    epoch seconds, datetime, or ISO string): ``since`` resolves through
    ``version_at`` to the latest version committed at or before it, so
    "what changed since yesterday 09:00" is one call, with the same
    loud first-commit / vacuum-horizon errors as ``read_version``."""
    from mapreduce_4_spark.operators.maintenance import snapshot_diff_aligned

    if (from_version is None) == (since is None):
        raise ValueError(
            "table_changes needs exactly one of from_version or since"
        )
    if since is not None:
        from_version = version_at(table_dir, since)
    if to_version is None:
        to_version = latest_version(table_dir)
    old = read_version(spark, table_dir, from_version)
    new = read_version(spark, table_dir, to_version)
    return snapshot_diff_aligned(old, new, key, compare)
