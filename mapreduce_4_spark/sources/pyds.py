"""Custom Python DataSource (Spark 4 DataSource API): a deterministic
synthetic row generator with real partition planning.

This is the idiomatic-PySpark replacement for the reference's
``dlopen``-loaded input plugin (``FileProcessorInput.so`` behind
``createInputObj``, asio_deep/main.cpp:219-226): where the reference
loads a shared object that enumerates and splits input files, the new
engine registers a Python class whose ``partitions()`` method plans the
splits and whose ``read(partition)`` generates each split's rows on the
executor that owns it.

Everything is deterministic (id-derived), so the source is fully
DuckDB-oracle-able (`range(n)` + md5), and partitioning is an explicit,
testable contract: ``parts`` input partitions of contiguous id ranges,
each read independently — the shape that scales a custom source to many
executors (partition planning on the driver is O(parts); row generation
is distributed).
"""

from __future__ import annotations

import hashlib
from math import ceil

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

#: modulus for the synthetic bucket column
N_BUCKETS = 32


class _RangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class SynthRowsDataSource(DataSource):
    """``spark.read.format("synthrows").option("n", N).option("parts", P)``
    -> (id bigint, bucket int, payload string) with payload = md5(id)."""

    @classmethod
    def name(cls) -> str:
        return "synthrows"

    def schema(self) -> str:
        return "id bigint, bucket int, payload string"

    def reader(self, schema) -> "SynthRowsReader":
        return SynthRowsReader(self.options)

    def simpleStreamReader(self, schema) -> "SynthRowsStreamReader":
        return SynthRowsStreamReader(self.options)


class SynthRowsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 4))

    def partitions(self):
        step = max(1, ceil(self.n / self.parts))
        return [
            _RangePartition(lo, min(self.n, lo + step))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.lo, partition.hi):
            yield (
                i,
                i % N_BUCKETS,
                hashlib.md5(str(i).encode("ascii")).hexdigest(),
            )


def register_synth_source(spark) -> None:
    """Idempotent registration (re-registering the same name is a no-op
    overwrite in the Python data source registry)."""
    spark.dataSource.register(SynthRowsDataSource)


def _row(i: int):
    return (i, i % N_BUCKETS, hashlib.md5(str(i).encode("ascii")).hexdigest())


class SynthRowsStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of :class:`SynthRowsReader`: the same deterministic
    id-derived rows arrive as micro-batches of ``batch`` rows until the
    ``n``-row corpus is exhausted — the reference's partitioned text
    source (O2) as an unbounded-source contract.

    Offsets are ``{"next": i}`` watermarks into the id space, so the
    exactly-once replay contract is trivial to honor:
    ``readBetweenOffsets`` regenerates any [start, end) slice
    bit-identically (rows are pure functions of the id), which is what
    makes checkpoint recovery deterministic for this source. A real
    connector (queue, CDC feed, object-store listing) implements the
    same three methods; the id space stands in for its log positions.
    """

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.batch = int(options.get("batch", 100))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = int(start["next"])
        hi = min(self.n, lo + self.batch)
        return iter([_row(i) for i in range(lo, hi)]), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_row(i) for i in range(int(start["next"]),
                                            int(end["next"]))])


# --- versioned-table DataSource (round-11) ---------------------------------


def _hive_seg_value(seg: str, part_cols: set):
    """(col, value) when path segment ``seg`` encodes a hive partition
    value for a known partition column, else None. Hive's NULL
    sentinel dir decodes to a true null (read_version handles these;
    the front door must too)."""
    from urllib.parse import unquote

    if "=" not in seg:
        return None
    c, val = seg.split("=", 1)
    if c not in part_cols:
        return None
    return c, (None if val == "__HIVE_DEFAULT_PARTITION__"
               else unquote(val))


def _walk_dir_files(root: str, part_cols: set, prune_subdir=None):
    """Yield (abs_path, hive_part_values) for every parquet file under
    one chain dir — the shared enumeration of the batch reader, the
    executor stream reader, and the driver stream reader.

    ``prune_subdir(values) -> bool``: planning-time SUBTREE pruning —
    when given and it proves a hive subdir's accumulated partition
    values cannot match, the walk never DESCENDS into it (the
    enumeration itself is the planning cost at 10^4+ hive partitions;
    filtering files after a full walk pays it anyway)."""
    import os

    for cur, dirs, files in os.walk(root):
        values = {}
        rel = os.path.relpath(cur, root)
        for seg in () if rel == "." else rel.split(os.sep):
            cv = _hive_seg_value(seg, part_cols)
            if cv is not None:
                values[cv[0]] = cv[1]
        if prune_subdir is not None:
            keep = []
            for d in dirs:
                cv = _hive_seg_value(d, part_cols)
                if cv is not None and prune_subdir({**values, cv[0]: cv[1]}):
                    continue  # provably excluded: never descend
                keep.append(d)
            dirs[:] = keep
        for f in sorted(files):
            if f.endswith(".parquet"):
                yield os.path.join(cur, f), values


def _read_file_conformed(path: str, part_values: dict, drop: tuple,
                         arrow_schema):
    """One parquet file as an Arrow table conformed to the manifest
    schema: DV positions masked, hive values restored from the path,
    pre-evolution columns null-padded — the executor-side read both
    the batch reader and the executor stream reader ship."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    if drop:
        import numpy as np

        keep = np.ones(t.num_rows, dtype=bool)
        keep[list(drop)] = False
        t = t.filter(pa.array(keep))
    cols = []
    for field in arrow_schema:
        if field.name in part_values:
            cols.append(pa.array(
                [part_values[field.name]] * t.num_rows,
                type=pa.string()).cast(field.type))
        elif field.name in t.column_names:
            cols.append(t.column(field.name).cast(field.type))
        else:
            cols.append(pa.nulls(t.num_rows, type=field.type))
    return pa.table(
        dict(zip(arrow_schema.names, cols))).cast(arrow_schema)


def _parse_binpack(options) -> int | None:
    """``binPackBytes`` (int >= 1) or None — shared by the batch
    reader and the executor stream reader."""
    raw = options.get("binpackbytes")
    if raw is None:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(
            f"mr4ver binPackBytes must be an integer >= 1, got {raw!r}")
    return n


def _bin_pack_files(items, target_bytes: int) -> list:
    """Greedy sequential grouping of (path, part_values, drop) triples
    into ~target_bytes groups (enumeration order, so hive locality
    survives; every group holds >= 1 file however large that file is).
    Planning reads only os.stat sizes — no footers."""
    import os

    groups, cur, cur_bytes = [], [], 0
    for path, values, drop in items:
        size = os.path.getsize(path)
        if cur and cur_bytes + size > target_bytes:
            groups.append(_SnapshotFileGroupPartition(tuple(cur)))
            cur, cur_bytes = [], 0
        cur.append((path, values, drop))
        cur_bytes += size
    if cur:
        groups.append(_SnapshotFileGroupPartition(tuple(cur)))
    return groups


class _SnapshotFilePartition(InputPartition):
    """One parquet file of one chain dir, plus the hive partition
    values its path encodes (empty for unpartitioned dirs). ``path``
    None is the no-files sentinel (a chain whose every append was
    empty) — Spark wants at least one partition to plan. ``drop``
    carries the file's deletion-vector row positions (sorted tuple,
    usually empty) so the executor read can mask them out."""

    def __init__(self, path: str | None, part_values: dict[str, str],
                 drop: tuple = ()):
        self.path = path
        self.part_values = part_values
        self.drop = drop


class _SnapshotFileGroupPartition(InputPartition):
    """A BIN-PACKED group of parquet files read by one task —
    ``option("binPackBytes", N)``'s planning unit. ``items`` is a
    tuple of (path, part_values, dv_drop) triples, grouped greedily in
    enumeration order (hive locality preserved) up to ~N bytes per
    group. This is the split-packing knob Delta/Iceberg readers have:
    a trickle-built chain of thousands of small files otherwise pays
    one task-scheduling floor PER FILE (SCALE.md's 4096-file probe:
    wall-clock tracks file count, not bytes)."""

    def __init__(self, items: tuple):
        self.items = items


class Mr4VersionedDataSource(DataSource):
    """``spark.read.format("mr4ver").option("version", N).load(dir)`` —
    the idiomatic reader front door over the repo's versioned table
    format (sources/versioned.py), unifying the lakehouse layer with
    ``spark.read`` the way Delta/Iceberg register their formats.

    Options: ``version`` (integer time travel) or ``asOf`` (timestamp
    time travel — epoch seconds or an ISO-8601 string, resolved by
    ``versioned.version_at`` with the same loud first-commit /
    vacuum-horizon errors); neither reads the latest snapshot.
    ``columns`` projects at the source and COMPOSES with the pruning
    options; ``where`` / ``probe`` prune chain dirs from manifest
    stats/blooms AND hive partition subtrees during the walk, with an
    exact Arrow residual (filter-only columns are read alongside and
    dropped); ``binPackBytes`` groups small files into ~N-byte read
    partitions (size toward total_bytes/cores); ``pruneOnFilters``
    opts into the pushFilters subclass (see
    :class:`Mr4VersionedPushdownReader`).

    Partition planning reflects the manifest: one input partition per
    parquet FILE per chain dir (enumerated once on the driver), so a
    B-dir chain with F files fans out to F independent executor reads
    with no directory listings on the read path. Rows come back as
    Arrow batches conformed to the manifest schema — hive partition
    values restored from the path, pre-evolution files null-padded —
    exactly ``read_version``'s contract (schema-pinned in the parity
    test). Local table dirs only: executors read with pyarrow, which
    has no view of the session's Hadoop FileSystem — scheme'd stores
    keep using ``read_version`` (the JVM scan is also the faster path;
    this source is the API-surface proof, same policy as the
    reference's plugin loader it mirrors, asio_deep/main.cpp:98-149).
    """

    @classmethod
    def name(cls) -> str:
        return "mr4ver"

    def _resolved(self):
        from mapreduce_4_spark.sources import versioned as vt

        if getattr(self, "_cache", None) is not None:
            return self._cache
        path = _local_path(self.options.get("path"))
        if not path:
            raise ValueError(
                "mr4ver needs a table dir: spark.read.format('mr4ver')"
                ".load(table_dir). If this read came through a CATALOG "
                "table (CREATE TABLE ... USING mr4ver / saveAsTable), "
                "note that Spark 4.1.2 constructs the read-side Python "
                "DataSource with EMPTY options — schema() sees the "
                "catalog's stored path, reader() does not (pinned in "
                "tests/test_pyds_versioned.py) — so catalog SELECTs "
                "cannot reach the table dir; read with "
                ".format('mr4ver').load(<dir>) instead"
            )
        if "://" in path:
            raise ValueError(
                "mr4ver reads local table dirs (executors read via "
                "pyarrow); for scheme'd stores use "
                "mapreduce_4_spark.sources.versioned.read_version"
            )
        version = self.options.get("version")
        as_of = self.options.get("asof")
        if version is not None and as_of is not None:
            raise ValueError("pass either version or asOf, not both")
        try:
            # a non-integer version is a TAG NAME, a non-numeric asOf an
            # ISO-8601 string — the addressing every reader accepts
            version = int(version) if version is not None else None
        except ValueError:
            pass
        try:
            as_of = float(as_of) if as_of is not None else None
        except ValueError:
            pass
        self._cache = (path, vt._open_version(path, version, as_of))
        return self._cache

    def _cdc(self) -> bool:
        return str(self.options.get("readchangefeed", "false")).lower() \
            == "true"

    def schema(self):
        from pyspark.sql.types import StructType

        from mapreduce_4_spark.sources.versioned import _scan_schema

        if self._cdc():
            key = self.options.get("key")
            if not key:
                raise ValueError(
                    "mr4ver readChangeFeed needs option('key', <column>)"
                    " — the change feed is a keyed diff")
            if self.options.get("version") is not None \
                    or self.options.get("asof") is not None:
                raise ValueError(
                    "mr4ver readChangeFeed does not take version/asOf "
                    "— use startingVersion/endingVersion (batch) or "
                    "startingVersion/startingTimestamp (stream) to "
                    "window the feed")
            return _cdc_schema(self._resolved()[1], key,
                               _cdc_format(self.options))
        if self.options.get("cdcformat") is not None:
            raise ValueError(
                "mr4ver: cdcFormat shapes the CHANGE feed — it needs "
                "option('readChangeFeed', 'true')")
        full = _scan_schema(self._resolved()[1])
        cols = self.options.get("columns")
        if not cols:
            return full
        # projection at the source: the relation's schema IS the
        # requested subset (manifest field order), so every partition's
        # Arrow conformance builds ONLY these columns — the Python
        # DataSource API has no column-pruning hook, so a wide-schema
        # table read through the front door would otherwise ship every
        # column of every row. Unknown names fail loudly.
        want = [c for c in cols.split(",") if c]
        known = {f.name for f in full.fields}
        missing = [c for c in want if c not in known]
        if missing:
            raise ValueError(
                f"mr4ver columns option names {missing} — table has "
                f"{sorted(known)}")
        wset = set(want)
        return StructType([f for f in full.fields if f.name in wset])

    def reader(self, schema):
        if self._cdc():
            # batch CDF (round 14): one executor task per version in
            # the [startingVersion, endingVersion] window — see
            # :class:`Mr4VersionedCdcBatchReader`
            path, manifest = self._resolved()
            return Mr4VersionedCdcBatchReader(
                path, manifest, schema, self.options)
        path, manifest = self._resolved()
        # pushFilters is opt-in STRUCTURALLY, not just behaviorally:
        # Spark 4.1 refuses to initialize ANY reader whose class
        # defines pushFilters() while spark.sql.python.filterPushdown
        # .enabled is false (DATA_SOURCE_PUSHDOWN_DISABLED), so under
        # a stock session the default reader must not even carry the
        # method — the where/probe option surface never needed it.
        if str(self.options.get("pruneonfilters", "false")).lower() \
                == "true":
            return Mr4VersionedPushdownReader(
                path, manifest, schema, self.options)
        return Mr4VersionedReader(path, manifest, schema, self.options)

    def writer(self, schema, overwrite: bool) -> "Mr4VersionedWriter":
        """The write front door (see :class:`Mr4VersionedWriter`).
        Unlike the readers this must work on a NOT-YET-EXISTING table
        (first write creates version 1), so only the path contract is
        validated here."""
        path = _local_path(self.options.get("path"))
        if not path:
            raise ValueError(
                "mr4ver needs a table dir: df.write.format('mr4ver')"
                ".save(table_dir). If this write came through a "
                "CATALOG table (INSERT INTO ... a CREATE TABLE USING "
                "mr4ver table), note that Spark 4.1.2 constructs the "
                "write-side Python DataSource with EMPTY options (same "
                "constraint as the read side, pinned in "
                "tests/test_pyds_versioned.py) — write with "
                ".format('mr4ver').save(<dir>) instead"
            )
        if "://" in path:
            raise ValueError(
                "mr4ver writes local table dirs (executors stage via "
                "pyarrow); for scheme'd stores use "
                "mapreduce_4_spark.sources.versioned.write_version"
            )
        return Mr4VersionedWriter(path, schema, overwrite,
                                  self.options)

    def streamWriter(self, schema, overwrite: bool):
        """The STREAMING write front door (see
        :class:`Mr4VersionedStreamWriter`): one chain commit per
        micro-batch, exactly-once via the manifest batch_id replay
        key. Same path contract as the batch writer — the sink may be
        a not-yet-existing table (batch 0 creates version 1)."""
        path = _local_path(self.options.get("path"))
        if not path:
            raise ValueError(
                "mr4ver needs a table dir: df.writeStream"
                ".format('mr4ver').option('checkpointLocation', ck)"
                ".start(table_dir). If this write came through "
                "toTable()/a catalog table, note that Spark 4.1.2 "
                "constructs the write-side Python DataSource with "
                "EMPTY options (pinned in tests/test_pyds_versioned"
                ".py) — use .start(<dir>) instead")
        if "://" in path:
            raise ValueError(
                "mr4ver writes local table dirs (executors stage via "
                "pyarrow); for scheme'd stores use the foreachBatch "
                "sinks (streaming/foreach_batch.py)")
        return Mr4VersionedStreamWriter(path, schema, overwrite,
                                        self.options)

    def simpleStreamReader(self, schema):
        path, manifest = self._resolved()
        if self._cdc():
            return Mr4VersionedCdcReader(path, manifest, schema,
                                         self.options)
        return Mr4VersionedStreamReader(path, manifest, schema,
                                        self.options)

    def streamReader(self, schema) -> "Mr4VersionedStreamPartReader":
        """The DEFAULT stream reader (data-plane): partition-planning
        ``DataSourceStreamReader`` whose micro-batches read their
        appended files ON EXECUTORS as Arrow batches (one input
        partition per file, the batch reader's shape), instead of
        shipping rows through the driver prefetch. Executor mode is
        the default because the crossover was MEASURED and never
        appeared (scripts/stream_mode_probe.py, SCALE.md round-12
        note): the Simple reader's driver prefetch lost at EVERY
        probed batch size, 1k rows (1.69 vs 1.59 s) through 150k rows
        (5.05 vs 1.79 s) — its eager read-at-latestOffset costs more
        than the per-batch task-scheduling floor even for tiny
        batches. ``option("streamMode", "driver")`` keeps the Simple
        reader reachable (raising NOT_IMPLEMENTED here is the
        documented fallback route) for environments where driver-side
        prefetch is genuinely preferable."""
        if self._cdc():
            if str(self.options.get("streammode", "")).lower() \
                    == "executor":
                raise ValueError(
                    "mr4ver readChangeFeed requires the driver prefetch "
                    "reader (drop option('streamMode', 'executor')): "
                    "each version's keyed diff needs both delta sides "
                    "in one place, and the Python DataSource API gives "
                    "executor partitions no shuffle/exchange hook — "
                    "rows would have to be co-partitioned by key, "
                    "which partitions() cannot express")
            from pyspark.errors import PySparkNotImplementedError

            # documented fallback: Spark resolves to simpleStreamReader
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        if str(self.options.get("streammode", "executor")).lower() \
                == "driver":
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        path, manifest = self._resolved()
        return Mr4VersionedStreamPartReader(path, manifest, schema,
                                            self.options)


class Mr4VersionedReader(DataSourceReader):
    def __init__(self, table_dir: str, manifest: dict, schema,
                 options=None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.table_dir = table_dir
        self.manifest = manifest
        self.arrow_schema = to_arrow_schema(schema)
        #: column -> Spark simpleString type for where/probe typing and
        #: bloom hashing dispatch — the FULL manifest schema, not the
        #: (possibly `columns`-projected) relation schema, so pruning
        #: predicates compose with projection: SELECT k,s WHERE b:2:3
        #: is the normal lakehouse shape and b need not be projected
        from mapreduce_4_spark.sources.versioned import _scan_schema

        full_schema = _scan_schema(manifest)
        self.col_types = {f.name: f.dataType.simpleString()
                          for f in full_schema.fields}
        #: pruning conjuncts: merged closed ranges + IN/EQ probe sets
        self._where: dict = {}
        self._probes: dict = {}
        options = options or {}
        # RELATION-IDENTITY pruning (the robust surface): bounds/probes
        # given as load options are part of the relation itself, so the
        # JVM's per-relation readInfo cache can never serve a pruned
        # plan to an unpruned query. `where`: "col:lo:hi[;col:lo:hi]"
        # (empty bound = open); `probe`: "col:v1,v2[;col:...]" point
        # lookups (window + bloom skipping). Values are typed by the
        # column's schema type.
        for clause in (options.get("where") or "").split(";"):
            if not clause:
                continue
            col, _, bounds = clause.partition(":")
            lo_s, sep, hi_s = bounds.partition(":")
            if not sep or col not in self.col_types:
                raise ValueError(
                    f"mr4ver where clause {clause!r}: want col:lo:hi "
                    f"with col one of {sorted(self.col_types)}")
            self._tighten(col, self._typed(col, lo_s) if lo_s else None,
                          self._typed(col, hi_s) if hi_s else None)
        for clause in (options.get("probe") or "").split(";"):
            if not clause:
                continue
            col, sep, vals_s = clause.partition(":")
            if not sep or col not in self.col_types:
                raise ValueError(
                    f"mr4ver probe clause {clause!r}: want col:v1,v2 "
                    f"with col one of {sorted(self.col_types)}")
            vals = [self._typed(col, v) for v in vals_s.split(",") if v]
            if not vals:
                raise ValueError(
                    f"mr4ver probe clause {clause!r} has no values — "
                    "an empty IN list matches nothing; drop the option "
                    "instead")
            self._probes.setdefault(col, []).append(vals)
        # filter-only columns: needed by the residual but absent from
        # the projected relation schema — read alongside, filtered on,
        # then dropped before yielding (projection + pruning compose)
        projected = set(self.arrow_schema.names)
        extra = [f for f in full_schema.fields
                 if f.name in (set(self._where) | set(self._probes))
                 and f.name not in projected]
        if extra:
            from pyspark.sql.types import StructType

            self._residual_drop = tuple(f.name for f in extra)
            self.read_arrow_schema = to_arrow_schema(StructType(
                list(schema.fields) + extra))
        else:
            self._residual_drop = ()
            self.read_arrow_schema = self.arrow_schema
        #: bin-packing target bytes per input partition (None = one
        #: partition per file, the historical default). The knob for
        #: trickle-built chains of many small files, where per-task
        #: scheduling floor x file count dominates (SCALE.md).
        self._binpack_bytes = _parse_binpack(options)

    def _typed(self, col: str, s: str):
        """Parse an option-string bound/probe value by the column's
        schema type (ints for the integer family, floats for the
        float/double family, exact ``decimal.Decimal`` for decimal
        columns — a float bound against a decimal128 Arrow column
        either loses precision or hits a no-matching-kernel error in
        the residual, so decimals stay decimals end-to-end — and the
        raw string otherwise)."""
        import decimal

        t = self.col_types[col]
        try:
            if t in ("tinyint", "smallint", "int", "integer", "bigint",
                     "long"):
                return int(s)
            if t in ("float", "double"):
                return float(s)
            if t.startswith("decimal"):
                return decimal.Decimal(s)
        except (ValueError, decimal.InvalidOperation) as e:
            raise ValueError(
                f"mr4ver: value {s!r} does not parse as {t} "
                f"(column {col})") from e
        return s

    def _tighten(self, col: str, lo=None, hi=None) -> None:
        """Merge one closed range into the ``where`` conjuncts: repeated
        bounds on one column TIGHTEN (AND semantics). Shared by the
        ``where`` option parser and ``pushFilters``."""
        cur_lo, cur_hi = self._where.get(col, (None, None))
        if lo is not None and (cur_lo is None or lo > cur_lo):
            cur_lo = lo
        if hi is not None and (cur_hi is None or hi < cur_hi):
            cur_hi = hi
        self._where[col] = (cur_lo, cur_hi)

    def _positions(self, col: str):
        """The planner's bloom hash for ``col``: the JVM-parity-pinned
        pure-Python xxhash64 twin (no SparkSession exists in the
        planning worker), or None positions — no bloom proof — for a
        type the twin does not cover."""
        from mapreduce_4_spark.sources import xxh64

        return xxh64.positions_for(self.col_types.get(col))

    # planning-time ceiling on inlined deletion-vector positions: the
    # per-file position tuples ride inside the pickled partitions, so a
    # DV this large should be folded away (compact/compact_tail) before
    # reading through the Python surface — read_version has no such cap
    DV_INLINE_MAX = 5_000_000

    def _dv_positions(self):
        """Deletion-vector positions per table-relative file path,
        loaded once on the driver from the manifest's sidecar (local
        pyarrow read — this source is local-only by contract)."""
        return _dv_positions_by_file(self.table_dir, self.manifest,
                                     self.DV_INLINE_MAX)

    def _hive_pruned(self, values: dict[str, str]) -> bool:
        """True when a file's hive partition-path values PROVE it holds
        no matching row for the where/probe conjuncts on partition
        columns — hive-level planning pruning inside surviving chain
        dirs (dir-level manifest pruning can keep a dir whose OTHER
        hive subdirs match). Values parse by the column's schema type
        via ``_typed``; anything unparseable OR incomparable scans
        (conservative — the versioned.py rule). Incomparability is a
        REAL hazard on the pushFilters route: pushed values arrive as
        native Python types (datetime.date, bool, Decimal) while
        ``_typed`` yields the path STRING for non-numeric columns, and
        ``'2024-01-01' != date(2024, 1, 1)`` would silently prune a
        matching partition — so cross-type comparisons never prune."""
        import decimal

        def _comparable(a, b) -> bool:
            num = (int, float)
            if isinstance(a, num) and isinstance(b, num) \
                    and not isinstance(a, bool) \
                    and not isinstance(b, bool):
                return True
            return type(a) is type(b)

        for col, (lo, hi) in self._where.items():
            s = values.get(col)
            if s is None:
                continue
            try:
                v = self._typed(col, s)
                if (lo is not None and _comparable(v, lo) and v < lo) \
                        or (hi is not None and _comparable(v, hi)
                            and v > hi):
                    return True
            except (ValueError, TypeError, decimal.InvalidOperation):
                continue  # unparseable/incomparable: scan
        for col, val_lists in self._probes.items():
            s = values.get(col)
            if s is None:
                continue
            try:
                v = self._typed(col, s)
            except (ValueError, decimal.InvalidOperation):
                continue
            for vals in val_lists:
                # prune only on a PROVEN miss: every candidate value
                # same-type-comparable to the path value, none equal
                if all(_comparable(v, x) for x in vals) \
                        and v not in vals:
                    return True  # AND of conjuncts: one miss proves
        return False

    def partitions(self):
        import os

        from mapreduce_4_spark.sources import versioned as vt

        # dir skipping by the one read planner (range proof, then
        # window-then-bloom per probe): miss dirs never become input
        # partitions — their files are not even enumerated
        plan = vt._plan_dirs(self.manifest, where=self._where,
                             probes=self._probes, positions=self._positions)
        dirs = [d for d, r in plan.items() if r != "miss"]
        part_cols = set(self.manifest.get("partition_by") or [])
        dv_by_file = self._dv_positions()
        prune = (self._hive_pruned if (self._where or self._probes)
                 else None)
        out = []
        for d in dirs:
            root = os.path.join(self.table_dir, d)
            # subtree-level hive pruning: excluded partition dirs are
            # never even descended into (planning cost ~ matching
            # files, not table files); the per-file check stays as the
            # exactness backstop for mixed-depth layouts
            for full, values in _walk_dir_files(root, part_cols,
                                                prune_subdir=prune):
                if values and self._hive_pruned(values):
                    continue
                rel_file = os.path.relpath(full, self.table_dir)
                out.append(_SnapshotFilePartition(
                    full, values, dv_by_file.get(rel_file, ())))
        if self._binpack_bytes is not None and out:
            return _bin_pack_files(
                [(p.path, p.part_values, p.drop) for p in out],
                self._binpack_bytes)
        return out or [_SnapshotFilePartition(None, {})]


    def read(self, partition):
        if isinstance(partition, _SnapshotFileGroupPartition):
            for path, values, drop in partition.items:
                yield from self._read_one(path, values, drop)
            return
        if partition.path is None:
            return
        yield from self._read_one(partition.path, partition.part_values,
                                  partition.drop)

    def _read_one(self, path, part_values, drop):
        out = _read_file_conformed(path, part_values, drop,
                                   self.read_arrow_schema)
        out = self._apply_residual(out)
        if self._residual_drop:
            out = out.select(self.arrow_schema.names)
        yield from out.to_batches()

    def _apply_residual(self, t):
        """Exact row filtering for the option-based `where`/`probe`
        surface (SQL semantics: NULL fails every predicate), so results
        never depend on how effective the dir pruning was — surviving
        dirs' non-matching rows drop here. The pushFilters route needs
        none of this (Spark re-applies every returned filter), but
        applying the merged closed bounds is harmless there."""
        import pyarrow as pa
        import pyarrow.compute as pc

        for col, (lo, hi) in self._where.items():
            # bounds are cast to the column's Arrow type so decimal128
            # comparisons get a matching kernel (a Decimal scalar's
            # inferred precision/scale rarely equals the column's)
            if lo is not None:
                t = t.filter(pc.greater_equal(
                    t[col], pa.scalar(lo).cast(t[col].type)))
            if hi is not None:
                t = t.filter(pc.less_equal(
                    t[col], pa.scalar(hi).cast(t[col].type)))
        for col, val_lists in self._probes.items():
            for vals in val_lists:
                t = t.filter(pc.is_in(
                    t[col],
                    value_set=pa.array(vals).cast(t[col].type)))
        return t


class Mr4VersionedPushdownReader(Mr4VersionedReader):
    """The pruneOnFilters=true reader: identical to
    :class:`Mr4VersionedReader` plus the ``pushFilters`` hook. A
    SEPARATE class because Spark 4.1 refuses to initialize any reader
    whose class merely DEFINES pushFilters() when
    ``spark.sql.python.filterPushdown.enabled`` is false
    (DATA_SOURCE_PUSHDOWN_DISABLED raised in the planning worker) —
    the r12 regression that broke every mr4ver batch read under a
    stock session. ``Mr4VersionedDataSource.reader()`` selects this
    subclass only on ``option("pruneOnFilters", "true")``, so the
    default front door stays initializable everywhere.
    """

    def pushFilters(self, filters):
        """Planning-time DIR pruning, never row filtering: every filter
        is returned to Spark (the exact residual always applies
        post-scan, so correctness can never depend on this method), but
        supported shapes are recorded as the reader's ``where``/
        ``probe`` conjuncts, which ``partitions()`` hands to the read
        planner (``versioned._plan_dirs``) — the same manifest skipping
        ``read_version_stats_pruned`` / ``read_version_bloom_pruned``
        give the function API (r11 verdict: the format front door
        silently lost it).

        - ``=``, ``<``, ``<=``, ``>``, ``>=`` merge into per-column
          CLOSED ranges (strict bounds widen to closed — conservative);
        - ``=`` / ``IN`` additionally become point-lookup conjuncts
          (window, then bloom hashed by the pure-Python xxhash64 twin;
          unsupported value types skip the bloom and keep the window
          pruning).

        Requires ``spark.sql.python.filterPushdown.enabled`` (set by
        ``session.get_spark``) AND ``option("pruneOnFilters", "true")``.
        The per-load opt-in exists because of a measured JVM aliasing
        hazard, NOT politeness: ``PythonDataSourceV2`` caches one
        mutable ``readInfo`` per relation and the pushdown path
        OVERWRITES it (``setReadInfo``), so after a filtered action on
        a DataFrame derived from the same ``load()``, a subsequent
        UNFILTERED action on the shared relation replays the pruned
        partition list and silently loses rows (reproduced on 4.1.2:
        100-row chain -> filtered count 11 -> unfiltered count 25).
        With the opt-in, that caching caveat is the caller's contract:
        one ``load()`` per query mix. The option-based ``where``/
        ``probe`` surface has no such hazard (pruning state is part of
        the relation identity) and is the default route.
        """
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if len(getattr(f, "attribute", ())) != 1:
                continue
            col = f.attribute[0]
            if col not in self.col_types:
                continue
            if isinstance(f, EqualTo) and f.value is not None:
                self._tighten(col, lo=f.value, hi=f.value)
                self._probes.setdefault(col, []).append([f.value])
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) \
                    and f.value is not None:
                self._tighten(col, lo=f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)) \
                    and f.value is not None:
                self._tighten(col, hi=f.value)
            elif isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                if vals:
                    self._probes.setdefault(col, []).append(vals)
        return filters


#: operation names KNOWN to not be appends (sources/versioned.py and
#: the write front door stamp these). The structural append fallback in
#: ``_append_new_dir`` is gated on the op NOT being one of them: a
#: restore (or CoW rewrite) whose manifest happens to extend the
#: parent's data_dirs by exactly one must keep the loud/skip contract —
#: its "new" dir is re-surfaced OLD data, and streaming it would
#' re-deliver rows the feed already emitted. Only op=None (legacy
#: manifests) or a future append-flavored name takes the structural
#: path.
_NON_APPEND_OPS = frozenset({
    "replace", "replace-datasource", "replace-datasource-stream",
    "compact", "compact-tail",
    "cluster", "restore", "delete-dv", "delete-cow", "update-cow",
    "merge-cow", "delete-cow-joined", "update-cow-joined",
    "merge-cow-joined",
})


def _append_new_dir(table_dir: str, v: int, ignore_changes: bool):
    """The chain dir version ``v`` APPENDED, absolute — or None when
    the commit delivers nothing: metadata-only commits (e.g. ANALYZE —
    data_dirs AND dv unchanged from the parent, zero new rows) are an
    empty batch and skip unconditionally, and ``ignore_changes`` skips
    non-append commits. Non-append commits (compact, CoW delete/
    update/merge, DV delete, restore) FAIL the stream loudly otherwise
    — shared by both stream readers so the driver and executor paths
    can never disagree on the feed's semantics. Appends are recognized
    first by operation name (``append`` / ``append-concurrent`` /
    ``append-datasource``, the write-front-door commit — the FAST path:
    no parent manifest read, which also keeps a stream alive when the
    parent manifest is past the vacuum horizon), then structurally
    (parent data_dirs + exactly one new dir, dv unchanged) — the
    structural path GATED on the op not being a known non-append
    (``_NON_APPEND_OPS``): a restore that happens to extend the
    parent's dirs by one is re-surfaced old data, never an append. So
    a future append-flavored operation string cannot silently kill or
    drop the feed, while known mutations keep the loud/skip contract;
    an unreadable parent degrades the structural check to the
    loud/skip path, never to a crash."""
    import os

    from mapreduce_4_spark.sources import versioned as vt

    m = vt.read_manifest(table_dir, v)
    op = m.get("operation")
    dirs = vt._chain_dirs(m)
    parent = m.get("parent")
    if op in ("append", "append-concurrent", "append-datasource",
              "append-datasource-stream") \
            or (op is None and parent is None):
        return os.path.join(table_dir, dirs[-1])
    if op == "analyze":
        # metadata-only commit: nothing to represent — an empty
        # batch, never a feed violation (and no parent read needed)
        return None
    structural_append = metadata_only = False
    if parent is not None:
        try:
            pm = vt.read_manifest(table_dir, parent)
        except FileNotFoundError:
            pm = None  # vacuumed past the horizon: cannot prove shape
        if pm is not None:
            pdirs = vt._chain_dirs(pm)
            dv_unchanged = m.get("dv") == pm.get("dv")
            # identical dirs+dv == identical data: safe to skip
            # regardless of op (a restore to the parent's own state
            # delivers nothing by construction)
            metadata_only = dirs == pdirs and dv_unchanged
            structural_append = (
                op not in _NON_APPEND_OPS  # None / future append names
                and dv_unchanged and len(dirs) == len(pdirs) + 1
                and dirs[:-1] == pdirs
            )
    else:
        structural_append = op is None  # initial snapshot
    if metadata_only:
        return None
    if not structural_append:
        if ignore_changes:
            return None
        raise ValueError(
            f"mr4ver stream: version {v} of {table_dir} is a "
            f"{op or 'non-append'} commit — an append feed cannot "
            "represent it. Pass ignoreChanges=true to skip such "
            "versions, or consume the CDC feed (streaming/cdc.py) "
            "for I/U/D semantics"
        )
    return os.path.join(table_dir, dirs[-1])


class Mr4VersionedStreamReader(SimpleDataSourceStreamReader):
    """Tail a versioned table's APPEND chain as a stream —
    ``spark.readStream.format("mr4ver").load(dir)``, the Delta/Iceberg
    streaming-source shape over this format.

    Offsets are ``{"v": N}`` = "versions ≤ N delivered", so the
    exactly-once replay contract is the format's own immutability:
    ``readBetweenOffsets`` re-reads versions (start, end] from their
    manifests bit-identically however often the checkpoint replays it.
    Each micro-batch delivers the rows the versions in its window
    APPENDED (each append's new chain dir — staged dirs included for
    concurrent appends; version 1 delivers the initial snapshot).

    Non-append commits (compact, CoW delete/update/merge, DV delete,
    restore) have no well-defined "new rows" for an append feed and
    FAIL the stream loudly — Delta's default for changed data — unless
    ``ignoreChanges=true`` skips them (the documented semantic: those
    versions contribute NOTHING; a mutation-aware consumer wants the
    CDC feed, streaming/cdc.py, which delivers I/U/D rows instead).
    Options: ``startingVersion`` (int: first version to deliver,
    default 1 = everything; or ``latest`` = only commits after stream
    start). Schema is pinned at stream start (manifest schema);
    columns appended later by schema evolution surface after a
    restart, pre-evolution files null-pad.

    This is the ``option("streamMode", "driver")`` reader — rows ship
    via the driver (SimpleDataSourceStreamReader's prefetch contract).
    Round 12 measured it against the executor-side partition-planning
    twin (:class:`Mr4VersionedStreamPartReader`) and the driver path
    lost at every probed batch size (scripts/stream_mode_probe.py), so
    the executor reader is now the DEFAULT; this one stays reachable
    for environments that want zero per-batch task scheduling."""

    def __init__(self, table_dir: str, manifest: dict, schema, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.table_dir = table_dir
        self.arrow_schema = to_arrow_schema(schema)
        self.part_cols = set(manifest.get("partition_by") or [])
        self.ignore_changes = str(
            options.get("ignorechanges", "false")).lower() == "true"
        self.stream_options = options
        self.max_versions = _parse_max_versions(options)
        if options.get("binpackbytes") is not None:
            raise ValueError(
                "mr4ver: binPackBytes applies to the executor "
                "partition-planning reader — drop "
                "option('streamMode', 'driver') (the prefetch reader "
                "ships rows through the driver; there are no file "
                "partitions to pack)")

    def initialOffset(self) -> dict:
        return {"v": _starting_offset(self.table_dir,
                                      self.stream_options)}

    def _appended_rows(self, v: int):
        new_root = _append_new_dir(self.table_dir, v, self.ignore_changes)
        if new_root is None:
            return
        names = self.arrow_schema.names
        for full, values in _walk_dir_files(new_root, self.part_cols):
            t = _read_file_conformed(full, values, (), self.arrow_schema)
            cols = {n: t.column(n).to_pylist() for n in names}
            for i in range(t.num_rows):
                yield tuple(cols[n][i] for n in names)

    def _window(self, lo: int, hi: int) -> list:
        # a LIST, not a generator: the prefetch cache copy.copy()s the
        # returned iterator for replay, which generators refuse
        out: list = []
        for v in range(lo + 1, hi + 1):
            out.extend(self._appended_rows(v))
        return out

    def read(self, start: dict):
        from mapreduce_4_spark.sources import versioned as vt

        lo = int(start["v"])
        hi = vt.latest_version(self.table_dir) or lo
        if self.max_versions is not None:
            # admission control (Delta's maxFilesPerTrigger shape): a
            # long backlog drains as bounded micro-batches instead of
            # one giant one — EXACT here because read() knows its base
            hi = min(hi, lo + self.max_versions)
        if hi <= lo:
            return iter([]), {"v": lo}
        return iter(self._window(lo, hi)), {"v": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._window(int(start["v"]), int(end["v"])))


def _starting_offset(table_dir: str, options) -> int:
    """Initial stream offset from ``startingVersion`` (int / "latest")
    or ``startingTimestamp`` (epoch seconds or ISO-8601, Delta's
    startingTimestamp shape) — shared by both stream readers. The
    timestamp resolves through ``versioned.version_at`` (monotonic
    clock-skew adjustment included): delivery starts with the first
    commit strictly AFTER the resolved snapshot, except a commit
    stamped exactly at the timestamp, which is included (Delta's
    at-or-after contract). A timestamp before the table's first commit
    streams EVERYTHING (offset 0); past the vacuum horizon stays loud
    — that history is undeliverable, not empty."""
    from mapreduce_4_spark.sources import versioned as vt

    sv = options.get("startingversion")
    st = options.get("startingtimestamp")
    if st is not None and sv is not None:
        raise ValueError(
            "mr4ver stream: pass startingVersion OR startingTimestamp, "
            "not both")
    if st is None:
        if sv is None:
            return 0  # default: deliver the whole chain
        if str(sv).lower() == "latest":
            return vt.latest_version(table_dir) or 0
        return int(sv) - 1
    try:
        st = float(st)
    except ValueError:
        pass  # ISO-8601 string — version_at parses it
    try:
        v = vt.version_at(table_dir, st)
    except ValueError as e:
        if "predates the first commit" in str(e):
            return 0  # older than the table: stream everything
        raise  # vacuum horizon (or unparseable): loud
    if vt.read_manifest(table_dir, v).get("committed_at") \
            == vt._as_of_epoch(st):
        return v - 1  # commit exactly AT the timestamp is included
    return v


def _parse_max_versions(options) -> int | None:
    """``maxVersionsPerTrigger`` (int >= 1) or None — the append
    streams' admission control: how many chain VERSIONS one
    micro-batch may deliver. Version granularity (not files/rows)
    because the offset model is ``{"v": N}`` — a version is the
    format's atomic replayable unit."""
    raw = options.get("maxversionspertrigger")
    if raw is None:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(
            f"mr4ver maxVersionsPerTrigger must be an integer >= 1, "
            f"got {raw!r}")
    return n


def _local_path(path):
    """Normalize a ``file:`` URI to a plain local path — the shape the
    SQL catalog hands the DataSource (``CREATE TABLE ... USING mr4ver
    OPTIONS (path '/x')`` stores and forwards ``file:/x``) and a shape
    users paste from Spark logs. Non-file schemes pass through for the
    local-only contract check to refuse; None stays None."""
    if not path or not path.startswith("file:"):
        return path
    from urllib.parse import unquote, urlparse

    p = urlparse(path)
    if p.netloc and p.netloc != "localhost":
        return path  # a REMOTE file URI is not a local path: refuse
    return unquote(p.path)


def _dv_positions_by_file(table_dir: str, manifest: dict,
                          cap: int = 5_000_000) -> dict:
    """Deletion-vector positions per table-relative file path from one
    manifest's sidecar ({} when the table carries no DV) — shared by
    the batch reader's partition planning and the CDC reader's dv-delta
    computation. ``cap`` bounds driver-side inlining (fold the DV with
    compact() past it)."""
    import os
    from collections import defaultdict

    import pyarrow.parquet as pq

    dv = manifest.get("dv") if manifest else None
    if not dv:
        return {}
    if dv["count"] > cap:
        raise ValueError(
            f"mr4ver: the deletion vector holds {dv['count']} "
            "positions — compact() the table to fold it, or read "
            "via sources.versioned.read_version"
        )
    t = pq.read_table(os.path.join(table_dir, dv["path"]),
                      columns=["file", "pos"])
    by_file = defaultdict(list)
    for f, p in zip(t.column("file").to_pylist(),
                    t.column("pos").to_pylist()):
        by_file[f].append(p)
    return {f: tuple(sorted(ps)) for f, ps in by_file.items()}


#: operations whose commit provably preserves table CONTENT (layout /
#: metadata only) — the CDC feed skips them without reading a byte,
#: where the module feed (streaming/cdc.py) pays a full-snapshot join
#: to compute the same zero rows. Delta CDF's dataChange=false analogue.
_CONTENT_PRESERVING_OPS = frozenset({
    "analyze", "compact", "compact-tail", "cluster",
})


def _cdc_schema(manifest: dict, key: str, fmt: str = "pairs"):
    """The change-feed relation schema for a table manifest, by
    ``cdcFormat``:

    - ``pairs`` (default): ``op`` ('I'/'U'/'D'), the key,
      ``old_c``/``new_c`` for every non-key column (both sides
      nullable — I has no old, D has no new), and ``_change_version``
      (the commit that produced the row). Column meaning matches
      ``operators.maintenance.snapshot_diff`` exactly, so the
      front-door feed and the module feed (streaming/cdc.py) agree by
      construction.
    - ``delta``: Delta Lake CDF's row shape — the table's own columns
      carrying the row image, plus ``_change_type`` ('insert' /
      'update_preimage' / 'update_postimage' / 'delete'),
      ``_commit_version`` and ``_commit_timestamp``. An update emits
      TWO rows (pre + post image); a consumer written against Delta's
      ``table_changes`` ports without renaming a column."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from mapreduce_4_spark.sources.versioned import _scan_schema

    full = _scan_schema(manifest)
    names = [f.name for f in full.fields]
    if key not in names:
        raise ValueError(
            f"mr4ver readChangeFeed: key column {key!r} not in the "
            f"table schema {names}")
    by_name = {f.name: f for f in full.fields}
    if fmt == "delta":
        fields = [StructField(n, by_name[n].dataType, True)
                  for n in names]
        fields += [StructField("_change_type", StringType(), False),
                   StructField("_commit_version", LongType(), False),
                   StructField("_commit_timestamp", TimestampType(),
                               False)]
        return StructType(fields)
    compare = [n for n in names if n != key]
    fields = [StructField("op", StringType(), False),
              StructField(key, by_name[key].dataType, True)]
    fields += [StructField(f"old_{c}", by_name[c].dataType, True)
               for c in compare]
    fields += [StructField(f"new_{c}", by_name[c].dataType, True)
               for c in compare]
    fields.append(StructField("_change_version", LongType(), False))
    return StructType(fields)


def _cdc_format(options) -> str:
    """The validated ``cdcFormat`` option: 'pairs' (snapshot_diff's
    old_/new_ pair rows, the default) or 'delta' (Delta CDF's
    _change_type row shape)."""
    fmt = str(options.get("cdcformat", "pairs")).lower()
    if fmt not in ("pairs", "delta"):
        raise ValueError(
            f"mr4ver readChangeFeed: cdcFormat {fmt!r} — expected "
            "'pairs' (op/key/old_*/new_* diff rows) or 'delta' "
            "(Delta CDF's _change_type row images)")
    return fmt


def _cdc_validate_options(options) -> str:
    """Shared option contract for both CDC readers (stream + batch):
    returns the required key column; refuses the options whose
    semantics belong to the append/plain readers."""
    key = options.get("key")
    if not key:
        raise ValueError(
            "mr4ver readChangeFeed needs option('key', <column>) — "
            "the change feed is a keyed diff (snapshot_diff's "
            "contract); there is no keyless I/U/D semantics")
    for bad, why in (
        ("ignorechanges", "the change feed REPRESENTS changes"),
        ("where", "filter the feed downstream"),
        ("probe", "filter the feed downstream"),
        ("columns", "the feed schema is op/key/old_*/new_*"),
        ("binpackbytes", "CDC reads are delta-sized, not file-packed"),
    ):
        if options.get(bad) is not None:
            raise ValueError(
                f"mr4ver readChangeFeed does not take {bad} — {why}")
    return key


class _CdcDiffer:
    """The per-version DELTA diff both CDC front doors share — a plain
    picklable object, so the STREAM reader runs it driver-side (the
    prefetch contract) and the BATCH reader ships it to executors (one
    task per version). Holds only the table dir, the pinned Arrow
    schema, the key/compare indices, and the partition columns."""

    def __init__(self, table_dir: str, manifest: dict, key: str):
        from pyspark.sql.pandas.types import to_arrow_schema

        from mapreduce_4_spark.sources.versioned import _scan_schema

        self.table_dir = table_dir
        self.table_arrow = to_arrow_schema(_scan_schema(manifest))
        self.names = list(self.table_arrow.names)
        if key not in self.names:
            raise ValueError(
                f"mr4ver readChangeFeed: key column {key!r} not in the "
                f"table schema {self.names}")
        self.key_i = self.names.index(key)
        self.compare_i = [i for i, n in enumerate(self.names) if n != key]
        self.part_cols = set(manifest.get("partition_by") or [])

    # -- delta-side row collection -----------------------------------
    def _file_tables(self, rel_dir: str, keep=None, drop=()):
        """One chain dir's files conformed to the table schema, as
        Arrow tables: ``drop`` masks DV positions (live-rows read);
        ``keep`` instead SELECTS positions per relative file (dv-delta
        read)."""
        import os

        root = os.path.join(self.table_dir, rel_dir)
        if not os.path.isdir(root):
            return
        for full, values in _walk_dir_files(root, self.part_cols):
            rel = os.path.relpath(full, self.table_dir)
            if keep is not None:
                pos = keep.get(rel)
                if not pos:
                    continue
                t = _read_file_conformed(full, values, (),
                                         self.table_arrow)
                yield t.take(sorted(pos))
            else:
                yield _read_file_conformed(full, values,
                                           drop.get(rel, ()),
                                           self.table_arrow)

    def _file_rows(self, rel_dir: str, keep=None, drop=()):
        """``_file_tables`` flattened to python tuples in schema order
        — the keyed-diff (and driver-prefetch stream) consumption
        shape."""
        for t in self._file_tables(rel_dir, keep=keep, drop=drop):
            cols = [t.column(n).to_pylist() for n in self.names]
            yield from zip(*cols)

    def _delta_plan(self, v: int, m: dict):
        """The version's change READS, planned from manifest arithmetic
        alone (nothing opened): two lists of ``(rel_dir, kwargs)``
        ``_file_tables``/``_file_rows`` calls — ``old_parts`` (rows
        live at the parent but not at v) and ``new_parts`` (live at v
        but not at the parent). An EMPTY old side proves every change
        is an insert (and an empty new side, a delete) before reading
        a byte — the pure-append / pure-delete fast-path predicate."""
        import os

        from mapreduce_4_spark.sources import versioned as vt

        parent = m.get("parent")
        pm = None
        if parent is not None:
            try:
                pm = vt.read_manifest(self.table_dir, parent)
            except FileNotFoundError:
                pm = None  # vacuumed: initial-load semantics
        dirs_v = vt._chain_dirs(m)
        dirs_p = vt._chain_dirs(pm) if pm is not None else []
        dv_v = _dv_positions_by_file(self.table_dir, m)
        dv_p = _dv_positions_by_file(self.table_dir, pm) if pm else {}
        sv, sp = set(dirs_v), set(dirs_p)
        old_parts: list = []
        new_parts: list = []
        for d in dirs_p:
            if d not in sv:  # dir dropped whole: its live rows deleted
                old_parts.append((d, {"drop": dv_p}))
        for d in dirs_v:
            if d not in sp:  # dir added: its live rows inserted
                new_parts.append((d, {"drop": dv_v}))
        common = sv & sp
        if common and (dv_v or dv_p):
            # DV delta on carried dirs: newly-deleted positions are the
            # old side, un-deleted positions (restore) the new side
            for d in common:
                prefix = d + os.sep
                newly_del: dict = {}
                undel: dict = {}
                rels = {r for r in (set(dv_v) | set(dv_p))
                        if r.startswith(prefix)}
                for r in rels:
                    a = set(dv_p.get(r, ()))
                    b = set(dv_v.get(r, ()))
                    if b - a:
                        newly_del[r] = b - a
                    if a - b:
                        undel[r] = a - b
                if newly_del:
                    old_parts.append((d, {"keep": newly_del}))
                if undel:
                    new_parts.append((d, {"keep": undel}))
        return old_parts, new_parts

    def _delta_sides(self, v: int, m: dict):
        """(old_rows, new_rows) for version ``v``: rows live at the
        parent but not at v, and rows live at v but not at the parent —
        from manifest arithmetic (dir-set delta + DV delta), reading
        only the changed dirs/positions."""
        old_parts, new_parts = self._delta_plan(v, m)
        old_rows: list = []
        new_rows: list = []
        for d, kw in old_parts:
            old_rows.extend(self._file_rows(d, **kw))
        for d, kw in new_parts:
            new_rows.extend(self._file_rows(d, **kw))
        return old_rows, new_rows

    def changes_for_version(self, v: int, m: dict | None = None):
        """The version's I/U/D rows in CDC-schema order — the keyed
        diff of the two delta sides (null-safe equality, NaN equal to
        NaN, snapshot_diff's semantics). ``m`` lets a caller that
        already holds version ``v``'s manifest skip the re-read (one
        JSON/FS round trip per version on the batch path)."""
        from mapreduce_4_spark.sources import versioned as vt

        if m is None:
            m = vt.read_manifest(self.table_dir, v)
        if m.get("operation") in _CONTENT_PRESERVING_OPS:
            return
        old_rows, new_rows = self._delta_sides(v, m)

        def _index(rows, side):
            # upsert-discipline enforcement is DELTA-SCOPED: a
            # duplicate key WITHIN one version's changed rows raises
            # here, but a duplicate spanning a changed and an
            # UNTOUCHED dir is undetectable at O(changed rows) cost —
            # proving global uniqueness needs the full key set, the
            # exact O(table) read this path exists to avoid. Same
            # trust model as Delta CDF (the writer owns uniqueness);
            # the module feed's full-snapshot join is the audit tool.
            # Divergence pinned in tests/test_pyds_versioned.py.
            out = {}
            for r in rows:
                k = r[self.key_i]
                if k in out:
                    raise ValueError(
                        f"mr4ver readChangeFeed: key {k!r} appears more "
                        f"than once on the {side} side of version {v} — "
                        "the change feed requires upsert discipline "
                        "(key unique per snapshot); for non-keyed "
                        "append tails use the plain mr4ver stream")
                out[k] = r
            return out

        old_m, new_m = _index(old_rows, "old"), _index(new_rows, "new")

        def _eq(a, b):
            if a is None or b is None:
                return a is None and b is None
            if a == b:
                return True
            return a != a and b != b  # NaN <=> NaN (Spark eqNullSafe)

        nones = [None] * len(self.compare_i)
        for k in old_m.keys() | new_m.keys():
            o, n = old_m.get(k), new_m.get(k)
            if o is None:
                yield ("I", k, *nones,
                       *[n[i] for i in self.compare_i], v)
            elif n is None:
                yield ("D", k, *[o[i] for i in self.compare_i],
                       *nones, v)
            elif not all(_eq(o[i], n[i]) for i in self.compare_i):
                yield ("U", k, *[o[i] for i in self.compare_i],
                       *[n[i] for i in self.compare_i], v)
            # equal on every compared column: not a change (a key that
            # merely moved dirs in a CoW rewrite emits nothing)

    def delta_changes_for_version(self, v: int,
                                  m: dict | None = None):
        """``changes_for_version`` re-shaped to Delta CDF's rows: the
        table's own columns carry the row image, 'U' pair rows split
        into update_preimage / update_postimage, and every row is
        stamped (_change_type, _commit_version, _commit_timestamp) —
        the timestamp is the manifest's commit stamp, Delta's
        _commit_timestamp semantics. The datetime stays tz-AWARE (UTC):
        pyspark's row-to-Arrow conversion on the STREAM path
        re-interprets naive datetimes as host-local time
        (value.astimezone), which would shift the stamp by the host's
        UTC offset; an aware value is a no-op on every path. Pure
        re-shaping otherwise: the delta-diff cost model and the
        upsert-discipline contract are unchanged."""
        import datetime

        from mapreduce_4_spark.sources import versioned as vt

        if m is None:
            m = vt.read_manifest(self.table_dir, v)
        ts = datetime.datetime.fromtimestamp(
            m["committed_at"], tz=datetime.timezone.utc)
        n_cmp = len(self.compare_i)

        def image(k, vals):
            row = [None] * len(self.names)
            row[self.key_i] = k
            for j, i in enumerate(self.compare_i):
                row[i] = vals[j]
            return tuple(row)

        for r in self.changes_for_version(v, m):
            op, k = r[0], r[1]
            old, new = r[2:2 + n_cmp], r[2 + n_cmp:2 + 2 * n_cmp]
            if op == "I":
                yield (*image(k, new), "insert", v, ts)
            elif op == "D":
                yield (*image(k, old), "delete", v, ts)
            else:
                yield (*image(k, old), "update_preimage", v, ts)
                yield (*image(k, new), "update_postimage", v, ts)

    # -- Arrow data path (batch CDF) ---------------------------------
    def arrow_batches_for_version(self, v: int, fmt: str, cdc_arrow):
        """The version's change rows as Arrow RecordBatches in the CDC
        relation schema — the BATCH front door's data path. A version
        whose delta plan proves one side EMPTY (a pure append / pure
        whole-dir or DV delete — nothing to compare against) is
        re-shaped COLUMNAR with zero per-row Python: at scale the bulk
        of a change feed is append versions plus the initial load, and
        those now ship at the plain reader's Arrow throughput
        (measured 9.7x over the tuple path on a 600k-row append,
        SCALE.md round 14). Genuine mutations — both sides non-empty —
        take the keyed tuple diff at O(changed rows), then ship as one
        RecordBatch. A duplicate key detected on a fast path re-runs
        the tuple diff for its exact loud error."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from mapreduce_4_spark.sources import versioned as vt

        m = vt.read_manifest(self.table_dir, v)
        if m.get("operation") in _CONTENT_PRESERVING_OPS:
            return
        old_parts, new_parts = self._delta_plan(v, m)
        side = ("I" if not old_parts else
                "D" if not new_parts else None)
        if side is None:
            yield from self._tuple_batch(v, fmt, cdc_arrow, m)
            return
        parts = new_parts if side == "I" else old_parts
        tables = [t for d, kw in parts
                  for t in self._file_tables(d, **kw) if t.num_rows]
        if not tables:
            return
        t = pa.concat_tables(tables)
        key_col = t.column(self.names[self.key_i])
        if pc.count_distinct(key_col, mode="all").as_py() != t.num_rows:
            # upsert-discipline violation: the tuple path names the
            # offending key in its loud error
            yield from self._tuple_batch(v, fmt, cdc_arrow, m)
            return
        yield from self._one_sided_batches(t, side, v, m, fmt,
                                           cdc_arrow)

    def _one_sided_batches(self, t, side: str, v: int, m: dict,
                           fmt: str, cdc_arrow):
        """Columnar re-shape of one delta side (``t``, conformed to
        the table schema) into the CDC relation schema — constant
        op/version columns, the absent side as typed nulls (pairs) or
        the row image plus Delta stamps (delta)."""
        import datetime

        import pyarrow as pa

        n = t.num_rows

        def const(val, typ):
            return pa.array([val] * n, type=typ)

        cols = {}
        if fmt == "delta":
            for name in self.names:
                cols[name] = t.column(name)
            cols["_change_type"] = const(
                "insert" if side == "I" else "delete", pa.string())
            cols["_commit_version"] = const(v, pa.int64())
            ts = datetime.datetime.fromtimestamp(
                m["committed_at"], tz=datetime.timezone.utc)
            cols["_commit_timestamp"] = const(
                ts, cdc_arrow.field("_commit_timestamp").type)
        else:
            key_name = self.names[self.key_i]
            cols["op"] = const(side, pa.string())
            cols[key_name] = t.column(key_name)
            for i in self.compare_i:
                name = self.names[i]
                typ = t.column(name).type
                cols[f"old_{name}"] = (t.column(name) if side == "D"
                                       else pa.nulls(n, type=typ))
                cols[f"new_{name}"] = (t.column(name) if side == "I"
                                       else pa.nulls(n, type=typ))
            cols["_change_version"] = const(v, pa.int64())
        out = pa.table(
            {f.name: cols[f.name] for f in cdc_arrow}).cast(cdc_arrow)
        yield from out.to_batches()

    def _tuple_batch(self, v: int, fmt: str, cdc_arrow,
                     m: dict | None = None):
        """The keyed tuple diff materialized as one RecordBatch — the
        batch reader's mutation-version path (a commit's mutation set
        is bounded, so one batch per version task is the right
        granularity)."""
        import pyarrow as pa

        rows = list(self.delta_changes_for_version(v, m)
                    if fmt == "delta"
                    else self.changes_for_version(v, m))
        if not rows:
            return
        arrays = [pa.array([r[i] for r in rows], type=f.type)
                  for i, f in enumerate(cdc_arrow)]
        yield pa.record_batch(arrays, schema=cdc_arrow)


class _CdcVersionPartition(InputPartition):
    """One chain version per batch-CDC input partition (``v`` None is
    the empty-window sentinel)."""

    def __init__(self, v: int | None):
        self.v = v


class Mr4VersionedCdcBatchReader(DataSourceReader):
    """``spark.read.format("mr4ver").option("readChangeFeed", "true")
    .option("key", k).option("startingVersion", a)
    .option("endingVersion", b).load(dir)`` — BATCH change-data-feed
    (Delta's batch CDF shape): every I/U/D row of versions [a, b]
    (defaults: 1, latest), same schema and same per-version delta-diff
    semantics as the streaming reader (shared ``_CdcDiffer``).
    ``option("cdcFormat", "delta")`` re-shapes rows to Delta CDF's
    surface (row image + _change_type/_commit_version/
    _commit_timestamp, updates as preimage+postimage pairs) on both
    front doors — a pure per-row re-shaping, same delta-diff cost.
    Timestamp windows work too — ``startingTimestamp`` (the shared
    at-or-after resolution) and ``endingTimestamp`` (latest commit
    at-or-before, via ``version_at``) — Delta's batch-CDF surface. The
    batch plan is where Spark's execution model pays off: partitions()
    plans ONE input partition PER VERSION (content-preserving commits
    dropped at planning from the manifest op alone), so a 10^3-commit
    history diffs as 10^3 independent executor tasks, each reading
    only its version's changed dirs/DV-delta — the driver never
    touches a row. A vacuumed version inside the window fails loudly
    (that history is undeliverable, not empty); time-travel
    ``version``/``asOf`` options are refused (the window IS the
    time-travel surface here)."""

    def __init__(self, table_dir: str, manifest: dict, schema, options):
        from mapreduce_4_spark.sources import versioned as vt

        key = _cdc_validate_options(options)
        if _parse_max_versions(options) is not None:
            raise ValueError(
                "mr4ver readChangeFeed (batch) does not take "
                "maxVersionsPerTrigger — bound the window with "
                "startingVersion/endingVersion")
        for bad in ("version", "asof"):
            if options.get(bad) is not None:
                raise ValueError(
                    f"mr4ver readChangeFeed (batch) does not take "
                    f"{bad} — the [startingVersion, endingVersion] "
                    "(or *Timestamp) window is the time-travel "
                    "surface of a change read")
        self.table_dir = table_dir
        self.differ = _CdcDiffer(table_dir, manifest, key)
        self.fmt = _cdc_format(options)
        from pyspark.sql.pandas.types import to_arrow_schema

        self.cdc_arrow = to_arrow_schema(
            _cdc_schema(manifest, key, self.fmt))
        latest = vt.latest_version(table_dir)
        # the window, by version OR by timestamp (Delta batch-CDF
        # shape). _starting_offset returns "last delivered", so the
        # first window version is offset+1; endingTimestamp resolves
        # to the latest commit at-or-before it (version_at — loud
        # before the first commit and past the vacuum horizon).
        self.start = _starting_offset(table_dir, options) + 1
        et = options.get("endingtimestamp")
        ev = options.get("endingversion")
        if et is not None and ev is not None:
            raise ValueError(
                "mr4ver readChangeFeed: pass endingVersion OR "
                "endingTimestamp, not both")
        if et is not None:
            try:
                et = float(et)
            except ValueError:
                pass  # ISO-8601 string — version_at parses it
            self.end = vt.version_at(table_dir, et)
        else:
            self.end = int(ev) if ev is not None else latest
        if self.start < 1 or self.end > latest or self.start > self.end:
            raise ValueError(
                f"mr4ver readChangeFeed: version window "
                f"[{self.start}, {self.end}] outside the published "
                f"history [1, {latest}]")

    def partitions(self):
        from mapreduce_4_spark.sources import versioned as vt

        out = []
        for v in range(self.start, self.end + 1):
            # planning-time skip from the manifest op alone — raises
            # FileNotFoundError on a vacuumed version (loud, never an
            # empty batch pretending the history was change-free)
            m = vt.read_manifest(self.table_dir, v)
            if m.get("operation") not in _CONTENT_PRESERVING_OPS:
                out.append(_CdcVersionPartition(v))
        return out or [_CdcVersionPartition(None)]

    def read(self, partition: _CdcVersionPartition):
        if partition.v is None:
            return
        yield from self.differ.arrow_batches_for_version(
            partition.v, self.fmt, self.cdc_arrow)


class Mr4VersionedCdcReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("mr4ver")
    .option("readChangeFeed", "true").option("key", k).load(dir)`` —
    the change-data-feed front door (Delta's readChangeFeed shape over
    this format), round-13 verdict ask #3. Each micro-batch delivers
    the I/U/D rows of the versions in its offset window, one
    ``snapshot_diff``-shaped row set per version tagged with
    ``_change_version``; the module feed (streaming/cdc.py
    ``version_changes``) is the batch twin and the parity oracle
    (pinned in tests/test_pyds_versioned.py).

    HOW it computes each version's diff is what makes it scale: not
    the module feed's full-outer join of two whole snapshots, but a
    DELTA diff derived from the manifests — only rows in dirs the
    commit added/removed plus rows whose deletion-vector entries
    changed are read, then keyed-diffed driver-side. Under the feed's
    upsert discipline (key unique per snapshot) the delta diff equals
    the full diff by construction: a key outside the changed dirs is
    bit-identical on both sides and contributes no row. Enforcement is
    delta-scoped (duplicates WITHIN a version's changed rows raise;
    a duplicate spanning an untouched dir is the writer's contract
    violation and undetectable at delta cost — Delta CDF's trust
    model; the module feed is the audit tool). Cost per version is O(changed rows), Delta CDF's asymptotics,
    instead of O(table); content-preserving commits (compact/cluster/
    analyze) are skipped without reading a byte. A full 'replace'
    still pays O(table) — its delta IS the table.

    Initial load: the first retained version (or a vacuumed-parent
    gap) surfaces as an all-'I' load of that snapshot, exactly
    ``version_changes``'s parent-unavailable contract.

    Driver-prefetch by design: the keyed diff needs both sides of a
    version in one place, and the Python DataSource API gives
    executors no shuffle hook — option("streamMode", "executor") is
    refused loudly (the maxVersionsPerTrigger precedent), the default
    resolution falls back here automatically. ignoreChanges is
    meaningless on a feed that REPRESENTS changes and is refused;
    where/probe/columns/binPackBytes are append/batch-reader surface.
    ``startingVersion``/``startingTimestamp``/``maxVersionsPerTrigger``
    work as on the append stream. Schema is pinned at stream start
    (the append stream's contract): an additive evolution landing
    mid-stream delivers its rows projected to the pinned columns, and
    the new column's old_/new_ pair surfaces after a restart — the
    BATCH reader always serves the latest superset
    (tests/test_pyds_versioned.py pins both)."""

    def __init__(self, table_dir: str, manifest: dict, schema, options):
        self.table_dir = table_dir
        self.differ = _CdcDiffer(table_dir, manifest,
                                 _cdc_validate_options(options))
        self.fmt = _cdc_format(options)
        if options.get("endingversion") is not None:
            raise ValueError(
                "mr4ver readChangeFeed (stream) does not take "
                "endingVersion — a stream has no end; use the BATCH "
                "window (spark.read + startingVersion/endingVersion) "
                "for a bounded change read, or maxVersionsPerTrigger "
                "to bound each micro-batch")
        self.stream_options = options
        self.max_versions = _parse_max_versions(options)

    def initialOffset(self) -> dict:
        return {"v": _starting_offset(self.table_dir,
                                      self.stream_options)}

    def _window(self, lo: int, hi: int) -> list:
        out: list = []
        rows = (self.differ.delta_changes_for_version
                if self.fmt == "delta"
                else self.differ.changes_for_version)
        for v in range(lo + 1, hi + 1):
            out.extend(rows(v))
        return out

    def read(self, start: dict):
        from mapreduce_4_spark.sources import versioned as vt

        lo = int(start["v"])
        hi = vt.latest_version(self.table_dir) or lo
        if self.max_versions is not None:
            hi = min(hi, lo + self.max_versions)
        if hi <= lo:
            return iter([]), {"v": lo}
        return iter(self._window(lo, hi)), {"v": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._window(int(start["v"]), int(end["v"])))


def _stage_arrow_to_parquet(table_dir: str, rel: str, schema,
                            iterator) -> int | None:
    """The one Arrow-batches-to-staged-parquet loop both write front
    doors share (batch and streaming writers): cast each batch to the
    target schema, lazily create the file on the first non-empty
    batch (empty tasks stage nothing, keeping dirs schema-clean), and
    return the row count — or None when the iterator produced no
    batches and NO file was written."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    path = os.path.join(table_dir, rel)
    writer = None
    rows = 0
    try:
        for batch in iterator:
            t = pa.Table.from_batches([batch]).cast(target)
            if writer is None:
                os.makedirs(os.path.dirname(path), exist_ok=True)
                writer = pq.ParquetWriter(path, target)
            writer.write_table(t)
            rows += t.num_rows
    finally:
        if writer is not None:
            writer.close()
    return rows if writer is not None else None


class _Mr4WriteTaskResult(WriterCommitMessage):
    def __init__(self, rows: int):
        self.rows = rows


class _Mr4StreamTaskResult(WriterCommitMessage):
    """Per-task result of a STREAMING write: the staged file's
    table-relative path rides the commit message because the commit
    hook runs on a FRESH writer instance (the sink-commit worker calls
    ``streamWriter`` anew per micro-batch, verified against pyspark
    4.1.2's python_streaming_sink_runner) — no instance nonce can link
    write-side and commit-side state, so the messages ARE the link."""

    def __init__(self, rows: int, rel_file: str | None):
        self.rows = rows
        self.rel_file = rel_file


class Mr4VersionedStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("mr4ver").option("checkpointLocation",
    ck).start(dir)`` — the STREAMING write front door, completing the
    format's DataSource story (batch read, streaming read, batch
    write, streaming write). Each micro-batch publishes ONE commit of
    the chain through the same staged-dir + CAS protocol as the batch
    writer:

    - executor tasks stream their Arrow batches into one parquet file
      each under a nonce'd ``_staged/t-<uuid>/`` dir (a crash leaves
      orphan dirs for vacuum's staged-TTL sweep — the standing
      torn-write story);
    - the driver-side ``commit(messages, batchId)`` hook gathers the
      task files named in the commit messages into one batch dir and
      CAS-publishes it via ``versioned.commit_staged_dir`` —
      operation ``append-datasource-stream`` (or
      ``replace-datasource-stream`` under ``outputMode("complete")``,
      which truncates per batch), interleaving safely with every
      other writer on the table.

    EXACTLY-ONCE is the replay-key contract every sink in this repo
    uses: the manifest records ``batch_id =
    "mr4ver-stream-<streamId>-<batchId>"`` and ``commit`` consults
    ``published_batch_ids`` first — a replayed micro-batch (crash
    between sink commit and checkpoint advance) finds its key already
    published, drops its staged files, and never double-appends.
    ``option("streamId", ...)`` namespaces the key: REQUIRED discipline
    when distinct stream queries append to one table (Delta's txnAppId
    shape), since two streams both at batchId N would otherwise
    collide. An empty micro-batch publishes nothing (no empty commits
    on an idle trigger). Downstream consumers see each batch as a
    plain append: the mr4ver append stream and both CDC front doors
    deliver it like any other commit."""

    def __init__(self, table_dir: str, schema, overwrite: bool,
                 options):
        self.table_dir = table_dir
        self.schema = schema
        self.overwrite = overwrite
        self.stream_id = options.get("streamid") or "stream"

    def write(self, iterator):
        import os
        import uuid

        u = uuid.uuid4().hex
        rel = os.path.join("_staged", f"t-{u}", f"part-{u}.parquet")
        rows = _stage_arrow_to_parquet(self.table_dir, rel,
                                       self.schema, iterator)
        # empty task: no file staged, nothing for commit to gather
        return _Mr4StreamTaskResult(rows or 0,
                                    rel if rows is not None else None)

    def _drop_staged(self, messages):
        import os
        import shutil

        for m in messages:
            if m is not None and getattr(m, "rel_file", None):
                shutil.rmtree(
                    os.path.dirname(
                        os.path.join(self.table_dir, m.rel_file)),
                    ignore_errors=True)

    def commit(self, messages, batchId: int):
        import os
        import shutil
        import uuid

        from mapreduce_4_spark.sources import versioned as vt

        bid = f"mr4ver-stream-{self.stream_id}-{batchId}"
        files = [m.rel_file for m in messages
                 if m is not None and getattr(m, "rel_file", None)]
        if bid in vt.published_batch_ids(self.table_dir):
            # replayed micro-batch: its rows are already published —
            # drop the replay's staged files, never double-append
            self._drop_staged(messages)
            return
        rows = sum(m.rows for m in messages if m is not None)
        if not files and not self.overwrite:
            return  # empty append batch: no empty commits
        # hex-only nonce, the batch writer's dir shape: the DV path
        # grammar (_DV_REL_RE/_DV_DIR_RE, sources/versioned.py) admits
        # exactly v=NNNNNN and _staged/<hex> as published data dirs —
        # any other name would silently break deletion-vector
        # bookkeeping on this table. The batchId lives in the
        # manifest's batch_id, not the path.
        dest_rel = os.path.join("_staged", uuid.uuid4().hex[:12])
        dest = os.path.join(self.table_dir, dest_rel)
        os.makedirs(dest, exist_ok=True)
        for rel in files:
            src = os.path.join(self.table_dir, rel)
            os.replace(src, os.path.join(dest, os.path.basename(src)))
            shutil.rmtree(os.path.dirname(src), ignore_errors=True)
        v = vt.commit_staged_dir(
            self.table_dir, dest_rel, self.schema, rows,
            append=not self.overwrite,
            operation=("replace-datasource-stream" if self.overwrite
                       else "append-datasource-stream"),
            batch_id=bid,
            skip_if_batch_id_published=True,
        )
        if v is None:
            # raced replay (two engines driving the same checkpoint):
            # the winner's commit carries this batch — drop our copy
            shutil.rmtree(dest, ignore_errors=True)

    def abort(self, messages, batchId: int):
        self._drop_staged(messages)


class Mr4VersionedWriter(DataSourceArrowWriter):
    """``df.write.format("mr4ver").mode("append"|"overwrite").save(dir)``
    — the WRITE front door over the versioned format, completing the
    DataSource story (batch read, streaming read, batch write) with
    the table format's own commit protocol:

    - executors stream their Arrow batches straight into parquet files
      under a nonce'd ``_staged/<nonce>/`` dir (one file per non-empty
      task; no version number depends on the path, so concurrent
      writers can never collide on data);
    - the driver-side ``commit`` hook publishes a manifest referencing
      the staged dir via ``versioned.commit_staged_dir`` — the SAME
      CAS tail ``write_version_concurrent`` uses (appends re-chain
      onto a new head, replaces linearize), so the format writer and
      the function API writers interleave safely on one table;
    - ``abort`` removes the staged dir; a crash between stage and
      commit leaves an orphan that ``vacuum``'s staged-TTL sweep
      reclaims — the standing torn-write story.

    ``mode("append")`` chains (additive schema evolution allowed, the
    parent's stats/bloom columns, deletion vector, and recorded
    clustering discipline inherited); ``mode("overwrite")`` publishes
    a full replacement snapshot. The staged dir carries exact
    ``dir_rows`` (COUNT stays metadata-exact) but no col_stats/bloom —
    the commit hook has no SparkSession to aggregate with —
    ``analyze_table`` / ``table analyze`` backfills the skipping
    metadata as a later metadata-only commit. Bucketed and
    hive-partitioned layouts stay on ``write_version`` (the writer
    stages flat files).

    IDEMPOTENT RETRIES (Delta's txnAppId/txnVersion shape):
    ``option("txnAppId", app).option("txnVersion", n)`` makes the
    commit a no-op when a manifest already records the same
    ``mr4ver-txn-<app>-<n>`` replay key — the foreachBatch retry
    story for callers driving this front door from their own
    at-least-once loop (pass batchId as txnVersion). The check is
    membership over RETAINED manifests (``published_batch_ids``), so
    the guard shares vacuum's retention caveat — Delta's own
    constraint. The options come as a pair; one without the other
    refuses loudly."""

    def __init__(self, table_dir: str, schema, overwrite: bool,
                 options=None):
        import uuid

        self.table_dir = table_dir
        self.schema = schema
        self.overwrite = overwrite
        self.staged_rel = f"_staged/{uuid.uuid4().hex[:12]}"
        opts = options or {}
        app = opts.get("txnappid")
        ver = opts.get("txnversion")
        if (app is None) != (ver is None):
            raise ValueError(
                "mr4ver: txnAppId and txnVersion come as a PAIR "
                "(Delta's idempotent-write shape) — got only "
                f"{'txnAppId' if ver is None else 'txnVersion'}")
        if ver is not None:
            try:
                ver = int(ver)
            except (TypeError, ValueError):
                raise ValueError(
                    "mr4ver: txnVersion must be an integer (Delta's "
                    f"long txnVersion) — got {ver!r}; a free-form "
                    "version would make the replay key "
                    "mr4ver-txn-<app>-<ver> ambiguous across apps")
        self.txn_id = (f"mr4ver-txn-{app}-{ver}"
                       if app is not None else None)
        # driver-side pre-check (writer is built in the planning
        # worker with the table dir in hand): a CLEAN replay skips the
        # whole cluster write — every task no-ops instead of staging
        # the full dataset just for commit() to delete it. Best-effort
        # only; the in-CAS re-check in commit_staged_dir remains the
        # authority under concurrency.
        self.already_published = False
        if self.txn_id is not None:
            from mapreduce_4_spark.sources import versioned as vt

            self.already_published = (
                self.txn_id in vt.published_batch_ids(table_dir))

    def write(self, iterator):
        import os
        import uuid

        if self.already_published:
            return _Mr4WriteTaskResult(0)  # clean txn replay: no-op
        rel = os.path.join(self.staged_rel,
                           f"part-{uuid.uuid4().hex}.parquet")
        rows = _stage_arrow_to_parquet(self.table_dir, rel,
                                       self.schema, iterator)
        # empty task: no file written (empty dirs stay schema-clean)
        return _Mr4WriteTaskResult(rows or 0)

    def commit(self, messages):
        import os
        import shutil

        from mapreduce_4_spark.sources import versioned as vt

        if self.already_published:
            return  # clean txn replay detected at plan time: no-op
        new_rows = sum(m.rows for m in messages if m is not None)
        # an all-empty write stages no files: materialize the dir so
        # the manifest never references a missing path (fsck contract)
        os.makedirs(os.path.join(self.table_dir, self.staged_rel),
                    exist_ok=True)
        v = vt.commit_staged_dir(
            self.table_dir, self.staged_rel, self.schema, new_rows,
            append=not self.overwrite,
            operation=("replace-datasource" if self.overwrite
                       else "append-datasource"),
            batch_id=self.txn_id,
            skip_if_batch_id_published=self.txn_id is not None,
        )
        if v is None:
            # a concurrent racer published this txn between planning
            # and our CAS attempt — drop our staged copy
            shutil.rmtree(os.path.join(self.table_dir, self.staged_rel),
                          ignore_errors=True)

    def abort(self, messages):
        import os
        import shutil

        shutil.rmtree(os.path.join(self.table_dir, self.staged_rel),
                      ignore_errors=True)


class Mr4VersionedStreamPartReader(DataSourceStreamReader):
    """Executor-side (data-plane) append-tail stream —
    ``spark.readStream.format("mr4ver").option("streamMode",
    "executor")``: the partition-planning twin of
    :class:`Mr4VersionedStreamReader`. Offsets and semantics are
    IDENTICAL (``{"v": N}`` = versions ≤ N delivered; non-append
    commits fail loudly unless ``ignoreChanges``; ``startingVersion``
    int/latest; exactly-once from manifest immutability — any
    (start, end] window replans to the same file partitions), but each
    micro-batch plans one input partition per appended parquet FILE
    and the files are read ON EXECUTORS as Arrow batches
    (``_read_file_conformed``, the batch reader's own read) — rows
    never ship through the driver. The planning cost per batch is one
    manifest read + one dir walk per appended version (driver-side,
    O(new files)); the per-batch task-scheduling floor is the price,
    which is why the Simple reader stays the default for
    control-plane/tiny-batch feeds (SCALE.md: measured crossover)."""

    def __init__(self, table_dir: str, manifest: dict, schema, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.table_dir = table_dir
        self.arrow_schema = to_arrow_schema(schema)
        self.part_cols = set(manifest.get("partition_by") or [])
        self.ignore_changes = str(
            options.get("ignorechanges", "false")).lower() == "true"
        self.stream_options = options
        self.binpack_bytes = _parse_binpack(options)
        # admission control needs the engine's base offset, which the
        # Python DataSourceStreamReader API never hands latestOffset()
        # (no ReadLimit hook, and the runner serves latestOffset on an
        # instance that sees neither partitions() nor commit() — a
        # stateful cap was MEASURED producing backward offsets and
        # duplicate batches on 4.1.2). Refuse loudly: the Simple
        # reader's read(start) knows its base, so its cap is exact.
        if _parse_max_versions(options) is not None:
            raise ValueError(
                "mr4ver: maxVersionsPerTrigger requires the driver "
                "prefetch reader — add option('streamMode', 'driver') "
                "(the executor partition-planning reader has no "
                "admission-control hook in the Python DataSource API)"
            )

    def initialOffset(self) -> dict:
        return {"v": _starting_offset(self.table_dir,
                                      self.stream_options)}

    def latestOffset(self) -> dict:
        from mapreduce_4_spark.sources import versioned as vt

        v = vt.latest_version(self.table_dir)
        if v is None:
            return {"v": int(self.initialOffset()["v"])}
        return {"v": v}

    def commit(self, end: dict) -> None:
        # versions are immutable and replayable; nothing to release
        pass

    def partitions(self, start: dict, end: dict):
        parts = []
        for v in range(int(start["v"]) + 1, int(end["v"]) + 1):
            root = _append_new_dir(self.table_dir, v,
                                   self.ignore_changes)
            if root is None:
                continue
            for full, values in _walk_dir_files(root, self.part_cols):
                parts.append(_SnapshotFilePartition(full, values, ()))
        if self.binpack_bytes is not None and parts:
            # a restarted stream over a long backlog plans its whole
            # catch-up window in ONE batch — thousands of trickle files
            # = thousands of tasks without packing (the batch reader's
            # binPackBytes knob, same greedy enumeration-order fold)
            return _bin_pack_files(
                [(p.path, p.part_values, p.drop) for p in parts],
                self.binpack_bytes)
        # Spark wants >= 1 partition per batch; the sentinel reads empty
        return parts or [_SnapshotFilePartition(None, {})]

    def read(self, partition):
        if isinstance(partition, _SnapshotFileGroupPartition):
            def _gen():
                for path, values, drop in partition.items:
                    yield from _read_file_conformed(
                        path, values, drop,
                        self.arrow_schema).to_batches()
            return _gen()
        if partition.path is None:
            return iter([])
        return iter(_read_file_conformed(
            partition.path, partition.part_values, partition.drop,
            self.arrow_schema).to_batches())


def register_versioned_source(spark) -> None:
    """Idempotent registration of the mr4ver reader format — and
    NOTHING else: no session conf is touched (r13 advice). The opt-in
    ``option("pruneOnFilters", "true")`` route additionally requires
    ``spark.sql.python.filterPushdown.enabled=true`` — a SESSION-GLOBAL
    conf that also activates the pushdown path of every OTHER
    registered Python DataSource, which is exactly why registering one
    format must not flip it as a side effect (it would silently expose
    third-party sources to the readInfo-aliasing hazard this repo
    documents for its own pushFilters route). ``session.get_spark``
    sets the conf at session build; a stock session wanting the opt-in
    route sets it explicitly:

        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")  # runtime-settable on 4.1.2

    The default reader never defines pushFilters and needs nothing —
    every load-option route (``version``/``where``/``probe``/
    ``binPackBytes``) works with the conf off."""
    spark.dataSource.register(Mr4VersionedDataSource)
