"""Equivalence pins for the one-job commit and read paths of
``sources/versioned.py``.

Each new path claims the same result as the shape it replaced:

- the ``col_stats`` a publish observes on its write job
  (``_write_observed``) equal the same aggregates scanned over the dir
  it wrote, for every ``_STATS_TYPES`` type and every commit path;
- the bloom filters it observes there are byte-equal to the
  distinct-positions build they replaced (inlined below as
  ``_dir_bloom``), for every column type, write layout and commit
  path, a concurrent writer's CAS retry and ``analyze_table``'s
  backfill included;
- a deletion-vector delete scans only the planner's non-miss dirs and
  records the same sidecar rows and per-dir counts as a scan of the
  whole chain;
- the one-call IN builder (``_in_list``) agrees with
  ``F.col(c).isin(vals)`` row for row, null results included, and the
  optimizer still plans ``In``/``InSet``;
- a scan handed the manifest schema (``_scan_dirs``) equals the
  footer-inferred scan it replaced, on evolved and hive-partitioned
  chains;
- ``avg_version``'s one residual aggregate equals SQL AVG with the
  tallies its two components report, also when they scan different
  dirs.
"""

from __future__ import annotations

import base64
import collections
import datetime as dt
import decimal
import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType,
    LongType, ShortType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from mapreduce_4_spark.sources import versioned as V

#: one column per _STATS_TYPES type
_TYPED = StructType([
    StructField("ti", ByteType()), StructField("si", ShortType()),
    StructField("i", IntegerType()), StructField("bi", LongType()),
    StructField("f", FloatType()), StructField("d", DoubleType()),
    StructField("s", StringType()), StructField("dt", DateType()),
    StructField("ts", TimestampType()),
    StructField("tn", TimestampNTZType()),
])
_COLS = _TYPED.fieldNames()


def test_typed_schema_covers_every_stats_type():
    assert {f.dataType.simpleString() for f in _TYPED.fields} \
        == V._STATS_TYPES


def _typed_rows(n: int, nan: bool = False, nulls_only: bool = False):
    rows = []
    for j in range(n):
        if nulls_only or j % 4 == 3:
            rows.append((None,) * len(_COLS))
            continue
        d = float("nan") if nan and j % 5 == 1 else j * 1.5 - 3
        rows.append((
            j % 100 - 50, j * 7 - 300, j * 1000 - 5, j * 10 ** 12 - 7,
            float(j) / 4, d, f"s{j:03d}'\\é",
            dt.date(2020, 1, 1) + dt.timedelta(days=j),
            dt.datetime(2021, 3, 4, 5, 6, 7, j),
            dt.datetime(2022, 1, 1) + dt.timedelta(seconds=j),
        ))
    return rows


def _scanned_stats(spark, data_dir: str, cols: list[str]) -> dict:
    """The reference: the stats aggregate over an inferred read of the
    dir as written (independent of the manifest schema)."""
    return V._scan_meta(spark.read.parquet(data_dir), (cols, (), None))[0]


@contextmanager
def _observed_only(monkeypatch):
    """Inside the block any scanning metadata collection fails, so a
    recorded entry can only come from the write job's observation."""
    def refuse(df, sets):
        raise AssertionError("publish scanned for its dir metadata")

    monkeypatch.setattr(V, "_scan_meta", refuse)
    try:
        yield
    finally:
        monkeypatch.undo()


def _same(a, b) -> bool:
    """Stats entries equal, NaN equal to NaN."""
    def norm(x):
        return "nan" if isinstance(x, float) and x != x else x
    return {c: [norm(x) for x in e] for c, e in a.items()} \
        == {c: [norm(x) for x in e] for c, e in b.items()}


@pytest.mark.parametrize("shape", ["mixed", "nan", "nulls_only", "empty"])
def test_observed_stats_equal_scanned_stats(spark, tmp_path, monkeypatch,
                                            shape):
    rows = {"mixed": _typed_rows(40), "nan": _typed_rows(40, nan=True),
            "nulls_only": _typed_rows(6, nulls_only=True),
            "empty": []}[shape]
    tdir = str(tmp_path / "t")
    with _observed_only(monkeypatch):
        V.write_version(spark.createDataFrame(rows, _TYPED).repartition(3),
                        tdir, stats_for=_COLS)
    got = V.read_manifest(tdir, 1)["col_stats"]["v=000001"]
    assert _same(got, _scanned_stats(spark, V._data_dir(tdir, 1), _COLS))
    if shape == "nulls_only":
        assert got["bi"] == [None, None, 6, None]


def test_observed_stats_on_clustered_and_partitioned_writes(
        spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(_typed_rows(60), _TYPED) \
        .withColumn("p", (F.col("i") % 3).cast("int"))
    cols = ["bi", "d", "s", "ts"]
    for name, kw in (("sorted", {"sort_by": ["bi"], "n_files": 3}),
                     ("zorder", {"zorder_by": ["bi", "d"], "n_files": 3}),
                     ("part", {"partition_by": ["p"]}),
                     ("bucket", {"bucket_by": ["bi"], "n_buckets": 2})):
        tdir = str(tmp_path / name)
        with _observed_only(monkeypatch):
            V.write_version(df, tdir, stats_for=cols, **kw)
        got = V.read_manifest(tdir, 1)["col_stats"]["v=000001"]
        assert _same(got, _scanned_stats(spark, V._data_dir(tdir, 1), cols)), \
            name
        assert V.fsck_table(tdir, spark=spark) == [], name


def test_observed_stats_on_every_commit_path(spark, tmp_path, monkeypatch):
    """Appends (plain and concurrent), copy-on-write rewrites (range
    delete, keyed merge, update) and compact_tail's fold all record
    the stats of exactly the rows they wrote."""
    tdir = str(tmp_path / "t")

    def batch(lo):
        return spark.range(lo, lo + 30).selectExpr(
            "id AS k", "IF(id % 7 = 0, NULL, id * 3) AS n",
            "CAST(id AS STRING) AS s")

    with _observed_only(monkeypatch):
        V.write_version(batch(0), tdir, append=True,
                        stats_for=["k", "n", "s"])
        V.write_version(batch(100), tdir, append=True)
        V.write_version_concurrent(batch(200), tdir, append=True)
        V.delete_version_pruned(spark, tdir, where={"k": (110, 120)})
        V.merge_version_pruned(spark, tdir, batch(205).limit(5), key="k")
        V.update_version_pruned(spark, tdir, {"n": F.lit(-1)},
                                keys=[3, 4], key="k")
        V.write_version(batch(300), tdir, append=True)
        V.write_version(batch(400), tdir, append=True)
        assert V.compact_tail(spark, tdir, keep_base=2) is not None
    m = V.read_manifest(tdir, V.latest_version(tdir))
    ops = [V.read_manifest(tdir, v)["operation"]
           for v in V.list_versions(tdir)]
    assert ops == ["append", "append", "append-concurrent", "delete-cow",
                   "merge-cow", "update-cow", "append", "append",
                   "compact-tail"]
    for d in m["data_dirs"]:
        want = _scanned_stats(spark, os.path.join(tdir, d), ["k", "n", "s"])
        assert m["col_stats"][d] == want, d
    assert V.fsck_table(tdir, spark=spark) == []


def test_miscounted_observation_falls_back_to_the_written_dir(
        spark, tmp_path, monkeypatch):
    """An observation whose row count disagrees with the footers (what
    a task counted twice would look like) is never recorded: the
    publish runs one aggregate over the dir it wrote instead, and its
    stats and blooms are those of the rows written."""
    real_observed, real_scan = V._write_observed, V._scan_meta
    scans = []

    def miscounted(df, sets, write):
        rows, got_sets, stats, bloom = real_observed(df, sets, write)
        return (rows + 1, got_sets, {c: [-1, -1, 0, -1] for c in stats},
                {c: {**e, "b64": ""} for c, e in bloom.items()})

    def scan(df, sets):
        scans.append(sets)
        return real_scan(df, sets)

    monkeypatch.setattr(V, "_write_observed", miscounted)
    monkeypatch.setattr(V, "_scan_meta", scan)
    tdir = str(tmp_path / "t")
    V.write_version(spark.range(10).selectExpr("id AS k", "'x' || id AS s"),
                    tdir, stats_for=["k"], bloom_for=["k", "s"],
                    bloom_bits=1024)
    m = V.read_manifest(tdir, 1)
    assert scans == [(("k",), ("k", "s"), 1024)]
    assert m["col_stats"]["v=000001"]["k"] == [0, 9, 0, 45]
    assert m["bloom"]["v=000001"] == _dir_bloom(
        spark.read.parquet(V._data_dir(tdir, 1)), ["k", "s"], 1024)


def test_miscounted_dv_observation_falls_back_to_the_sidecar(
        spark, tmp_path, monkeypatch):
    """The same rule for a deletion-vector commit: per-dir counts whose
    observed total disagrees with the sidecar's footers are never
    recorded; the commit reads them back from the sidecar."""
    tdir = str(tmp_path / "t")
    for lo in (0, 10):
        V.write_version(spark.range(lo, lo + 10).withColumnRenamed("id", "k"),
                        tdir, append=True)
    real = V._observe_write

    def miscounted(df, exprs, write):
        got = real(df, exprs, write)
        return {**got, V._OBS_ROWS: got[V._OBS_ROWS] + 1, "d0": 0}

    monkeypatch.setattr(V, "_observe_write", miscounted)
    V.delete_version_dv(spark, tdir, keys=[3, 12, 14], key="k")
    assert V.read_manifest(tdir, 3)["dv"]["dir_counts"] \
        == {"v=000001": 1, "v=000002": 2}


# -- observed blooms -----------------------------------------------------------


def _dir_bloom(df, cols: list[str], bits: int) -> dict:
    """The reference: the bloom build the write observation replaced —
    per column, one distinct-positions aggregate over the dir's
    non-null values, OR-ed into the bitset on the driver."""
    out = {}
    for c in cols:
        pos = F.array(*[F.pmod(F.xxhash64(F.lit(seed), F.col(c)), F.lit(bits))
                        for seed in range(4)])
        rows = (df.filter(F.col(c).isNotNull())
                .select(F.explode(pos).alias("p")).distinct().collect())
        ba = bytearray(bits // 8)
        for r in rows:
            ba[r["p"] // 8] |= 1 << (r["p"] % 8)
        out[c] = {"bits": bits, "k": 4,
                  "b64": base64.b64encode(bytes(ba)).decode("ascii")}
    return out


def _assert_blooms_scanned(spark, tdir: str, cols: list[str]) -> None:
    """Every chain dir of the head carries the reference blooms of the
    rows it holds, read back from the dir as written."""
    m = V.read_manifest(tdir, V.latest_version(tdir))
    for d in V._chain_dirs(m):
        got = (m["bloom"] or {}).get(d)
        assert got == _dir_bloom(spark.read.parquet(os.path.join(tdir, d)),
                                 cols, m["bloom_bits"]), d


#: one column per bloom-able type, with the values a hash can trip on
_EDGES = StructType([
    StructField("i", IntegerType()), StructField("bi", LongType()),
    StructField("s", StringType()), StructField("d", DoubleType()),
    StructField("dec", DecimalType(20, 4)), StructField("dt", DateType()),
    StructField("ts", TimestampType()),
])


def _edge_rows(n: int, nulls_only: bool = False):
    ints = [0, 1, -1, 2 ** 31 - 1, -2 ** 31]
    longs = [0, -1, 2 ** 63 - 1, -2 ** 63, 2 ** 31]
    strs = ["", "é", "漢字", "\U0001F600", "a'b\\c", "x\ny"]
    dbls = [float("nan"), 0.0, -0.0, float("inf"), float("-inf"), 1e-300]
    rows = []
    for j in range(n):
        if nulls_only or j % 7 == 6:
            rows.append((None,) * len(_EDGES))
            continue
        rows.append((
            ints[j % 5] if j < 10 else j * 7919,
            longs[j % 5] if j < 10 else j * 10 ** 12,
            strs[j % 6] + str(j), dbls[j % 6] if j < 12 else j / 3,
            decimal.Decimal(j * 12345) / 100 - 5,
            dt.date(1969, 12, 25) + dt.timedelta(days=j * 3),
            dt.datetime(1969, 12, 31, 23, 59, 59) + dt.timedelta(
                hours=j, microseconds=j),
        ))
    return rows


@pytest.mark.parametrize("shape,bits", [
    ("edges", 1024), ("edges", 40_000), ("edges", 1 << 17),
    ("nulls_only", 1024), ("empty", 1024)])
def test_observed_bloom_equals_scanned_bloom(spark, tmp_path, monkeypatch,
                                            shape, bits):
    """Every type at its hashing edges, at a bitset inside one bitmap
    slice, one ending mid-slice and the default four slices; an
    all-null column and an empty batch record an all-zero bitset."""
    rows = {"edges": _edge_rows(60), "nulls_only": _edge_rows(5, True),
            "empty": []}[shape]
    cols = _EDGES.fieldNames()
    tdir = str(tmp_path / "t")
    with _observed_only(monkeypatch):
        V.write_version(spark.createDataFrame(rows, _EDGES).repartition(3),
                        tdir, bloom_for=cols, bloom_bits=bits)
    _assert_blooms_scanned(spark, tdir, cols)
    if shape != "edges":
        zero = base64.b64encode(bytes(bits // 8)).decode("ascii")
        assert {e["b64"] for e in V.read_manifest(tdir, 1)["bloom"][
            "v=000001"].values()} == {zero}


def test_observed_blooms_on_clustered_and_partitioned_writes(
        spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(_edge_rows(60), _EDGES) \
        .withColumn("p", F.pmod("bi", F.lit(3)).cast("int"))
    cols = ["bi", "s", "dec"]
    for name, kw in (("sorted", {"sort_by": ["bi"], "n_files": 3}),
                     ("part", {"partition_by": ["p"]}),
                     ("bucket", {"bucket_by": ["bi"], "n_buckets": 2})):
        tdir = str(tmp_path / name)
        with _observed_only(monkeypatch):
            V.write_version(df, tdir, stats_for=["s"], bloom_for=cols,
                            bloom_bits=2048, **kw)
        _assert_blooms_scanned(spark, tdir, cols)


def test_observed_blooms_on_every_commit_path(spark, tmp_path, monkeypatch):
    """Appends (plain and concurrent), copy-on-write rewrites (range
    delete, keyed merge, update) and compact_tail's fold all record
    the blooms of exactly the rows they wrote, with no scan."""
    tdir = str(tmp_path / "t")

    def batch(lo):
        return spark.range(lo, lo + 30).selectExpr(
            "id AS k", "IF(id % 7 = 0, NULL, id * 3) AS n",
            "CAST(id AS STRING) AS s")

    with _observed_only(monkeypatch):
        V.write_version(batch(0), tdir, append=True, stats_for=["k"],
                        bloom_for=["n", "s"], bloom_bits=4096)
        V.write_version(batch(100), tdir, append=True)
        V.write_version_concurrent(batch(200), tdir, append=True)
        V.delete_version_pruned(spark, tdir, where={"k": (110, 120)})
        V.merge_version_pruned(spark, tdir, batch(205).limit(5), key="k")
        V.update_version_pruned(spark, tdir, {"n": F.lit(-1)},
                                keys=[3, 4], key="k")
        V.write_version(batch(300), tdir, append=True)
        V.write_version(batch(400), tdir, append=True)
        assert V.compact_tail(spark, tdir, keep_base=2) is not None
    ops = [V.read_manifest(tdir, v)["operation"]
           for v in V.list_versions(tdir)]
    assert ops == ["append", "append", "append-concurrent", "delete-cow",
                   "merge-cow", "update-cow", "append", "append",
                   "compact-tail"]
    _assert_blooms_scanned(spark, tdir, ["n", "s"])


def test_concurrent_cas_retry_onto_other_blooms_scans_once(
        spark, tmp_path, monkeypatch):
    """A concurrent append observes the head's blooms; when it loses
    the manifest CAS to a commit that changed the bloom columns, the
    retry builds the staged dir's metadata in one scan of that dir."""
    tdir = str(tmp_path / "t")

    def rows(lo, n):
        return spark.range(lo, lo + n).selectExpr(
            "id AS k", "CAST(id * 5 AS STRING) AS s")

    V.write_version(rows(0, 20), tdir, append=True, stats_for=["k"],
                    bloom_for=["k"], bloom_bits=2048)
    real_publish, real_scan = V._publish, V._scan_meta
    scans, raced = [], []

    def racing_publish(table_dir, manifest, hint):
        if manifest["operation"] == "append-concurrent" and not raced:
            raced.append(1)  # a rival lands first, with other blooms
            V.write_version(rows(50, 10), tdir, append=True,
                            bloom_for=["k", "s"], bloom_bits=2048)
        return real_publish(table_dir, manifest, hint)

    def scan(df, sets):
        scans.append(sets)
        return real_scan(df, sets)

    monkeypatch.setattr(V, "_publish", racing_publish)
    monkeypatch.setattr(V, "_scan_meta", scan)
    v = V.write_version_concurrent(rows(100, 30), tdir, append=True)
    monkeypatch.undo()
    assert v == 3 and raced
    assert scans == [(("k",), ("k", "s"), 2048)]
    m = V.read_manifest(tdir, 3)
    staged = m["data_dirs"][-1]
    assert staged.startswith("_staged/")
    assert m["bloom"][staged] == _dir_bloom(
        spark.read.parquet(os.path.join(tdir, staged)), ["k", "s"], 2048)
    assert m["col_stats"][staged]["k"] == [100, 129, 0, sum(range(100, 130))]


def test_analyze_backfills_the_scanned_blooms(spark, tmp_path):
    tdir = str(tmp_path / "t")
    for lo in (0, 100):
        V.write_version(spark.range(lo, lo + 40).selectExpr(
            "id AS k", "IF(id % 3 = 0, NULL, 'v' || id) AS s"), tdir,
            append=True)
    assert V.analyze_table(spark, tdir, stats_for=["k"],
                           bloom_for=["k", "s"], bloom_bits=1024) == 3
    _assert_blooms_scanned(spark, tdir, ["k", "s"])
    m = V.read_manifest(tdir, 3)
    for d in m["data_dirs"]:
        assert m["col_stats"][d] == _scanned_stats(
            spark, os.path.join(tdir, d), ["k"])


# -- deletion-vector deletes through the planner -------------------------------


@pytest.fixture
def dv_chain(spark, tmp_path):
    """Five 1000-row appends with stats on ``k``: dir i holds k in
    [1000 i, 1000 i + 1000)."""
    tdir = str(tmp_path / "dv")
    for i in range(5):
        V.write_version(spark.range(i * 1000, i * 1000 + 1000).selectExpr(
            "id AS k", "id % 10 AS r"), tdir, append=True, stats_for=["k"])
    return tdir


def _full_chain_dv(spark, tdir: str, pm: dict, cond) -> list:
    """The reference: the (file, pos) rows the delete located before it
    went through the planner — a live scan of EVERY chain dir under
    ``cond``, plus the previous sidecar's rows for chain dirs."""
    scan = V._scan_dirs(spark, pm, [os.path.join(tdir, d)
                                    for d in V._chain_dirs(pm)],
                        tdir, keep_pos=True)
    rows = {(r[0], r[1]) for r in scan.filter(
        cond.eqNullSafe(F.lit(True))).select(*V._DV_COLS).collect()}
    if pm.get("dv"):
        old = spark.read.parquet(os.path.join(tdir, pm["dv"]["path"]))
        rows |= {(r["file"], r["pos"]) for r in old.collect()
                 if r["file"].split("/")[0] in V._chain_dirs(pm)}
    return sorted(rows)


@pytest.mark.parametrize("case", ["range", "keys", "predicate", "fold"])
def test_dv_delete_scans_the_planned_dirs_only(spark, dv_chain, monkeypatch,
                                               case):
    tdir = dv_chain
    if case == "fold":  # an older sidecar in v=000001 and v=000004
        V.delete_version_dv(spark, tdir, keys=[7, 3007], key="k")
    kw, cond = {
        "range": ({"where": {"k": (1500, 1600)}},
                  F.col("k").between(1500, 1600)),
        "keys": ({"keys": [3100, 3200], "key": "k"},
                 F.col("k").isin([3100, 3200])),
        "predicate": ({"predicate": F.col("r") == 3}, F.col("r") == 3),
        "fold": ({"where": {"k": (2000, 2004)}},
                 F.col("k").between(2000, 2004)),
    }[case]
    pm = V.read_manifest(tdir, V.latest_version(tdir))
    want = _full_chain_dv(spark, tdir, pm, cond)
    plan = V._plan_dirs(
        pm, where=kw.get("where"),
        probes={"k": [kw["keys"]]} if "keys" in kw else None,
        positions=lambda c: V._bloom_positions(spark, pm, c))
    real = V._scan_dirs
    scanned = []

    def recording(spark_, m, dirs_abs, *a, **k):
        if k.get("keep_pos"):
            scanned.append([os.path.relpath(p, tdir) for p in dirs_abs])
        return real(spark_, m, dirs_abs, *a, **k)

    monkeypatch.setattr(V, "_scan_dirs", recording)
    V.delete_version_dv(spark, tdir, **kw)
    monkeypatch.undo()
    assert scanned == [[d for d, r in plan.items() if r != "miss"]]
    assert scanned[0] == {
        "range": ["v=000002"], "keys": ["v=000004"],
        "predicate": V._chain_dirs(pm), "fold": ["v=000003"]}[case]
    m = V.read_manifest(tdir, V.latest_version(tdir))
    side = spark.read.parquet(os.path.join(tdir, m["dv"]["path"]))
    assert sorted((r["file"], r["pos"]) for r in side.collect()) == want
    assert m["dv"]["dir_counts"] == dict(collections.Counter(
        f.split("/")[0] for f, _ in want))
    assert m["dv"]["count"] == len(want)
    live = V.read_version(spark, tdir).collect()
    assert len(live) == 5000 - len(want) == V.count_version(None, tdir)


# -- the IN builder ------------------------------------------------------------

_IN_CASES = [
    ("int", IntegerType(), [3, -7, 0, 2 ** 31 - 1, -2 ** 31, None],
     [3, -7, 2 ** 31 - 1, -2 ** 31, 99]),
    ("long", LongType(), [5, -5, 2 ** 40, -2 ** 63, 2 ** 63 - 1, None],
     [-5, 2 ** 40, -2 ** 63, 2 ** 63 - 1, 2 ** 31, 7]),
    ("tinyint", ByteType(), [1, -128, 127, None], [1, 127, 300]),
    ("string", StringType(),
     ["a'b", "c\\d", "é漢字", "", "x\ny", "plain", None],
     ["a'b", "c\\d", "é漢字", "", "x\ny", "\\'", "nope"]),
    ("double", DoubleType(),
     [1.5, float("nan"), float("inf"), -0.0, 1e-300, None],
     [1.5, float("nan"), float("-inf"), 0.0, 1e-300, 2.0]),
    ("decimal", DecimalType(10, 3),
     [decimal.Decimal("1.500"), decimal.Decimal("-2.250"),
      decimal.Decimal("0.001"), None],
     [decimal.Decimal("1.5"), decimal.Decimal("-2.25"),
      decimal.Decimal("0.001"), decimal.Decimal("7")]),
    ("date", DateType(),
     [dt.date(2024, 2, 29), dt.date(1970, 1, 1), dt.date(999, 1, 2), None],
     [dt.date(2024, 2, 29), dt.date(1970, 1, 1), dt.date(2000, 1, 1)]),
    ("timestamp", TimestampType(),
     [dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
      dt.datetime(1969, 12, 31, 23, 59, 59),
      dt.datetime(2020, 6, 1, 12, tzinfo=dt.timezone.utc), None],
     [dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
      dt.datetime(1969, 12, 31, 23, 59, 59),
      dt.datetime(2020, 6, 1, 12, tzinfo=dt.timezone.utc),
      dt.datetime(2020, 6, 1, 12)]),
    ("one key", LongType(), [1, 2, None], [2]),
    ("empty list", LongType(), [1, None], []),
]


@pytest.mark.parametrize("name,dtype,data,vals", _IN_CASES,
                         ids=[c[0] for c in _IN_CASES])
def test_in_builder_agrees_with_isin(spark, name, dtype, data, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(data)],
                               StructType([StructField("i", IntegerType()),
                                           StructField("c", dtype)]))
    for probe in (vals, vals + [None]):
        got = df.select("i", V._in_list("c", probe).alias("a"),
                        F.col("c").isin(probe).alias("b")).collect()
        assert [(r["i"], r["a"]) for r in got] \
            == [(r["i"], r["b"]) for r in got], probe
        # the delete condition keeps only definitely-TRUE matches
        kept = df.filter(V._delete_cond("c", probe, None, None))
        want = df.filter(F.col("c").isin(probe).eqNullSafe(F.lit(True)))
        assert sorted(r["i"] for r in kept.collect()) \
            == sorted(r["i"] for r in want.collect())


def test_in_builder_plans_in_or_inset(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    for n, op in ((3, " IN ("), (600, " INSET ")):
        plan = df.filter(V._in_list("k", list(range(n))))._jdf \
            .queryExecution().optimizedPlan().toString()
        assert op in plan, plan[:300]
    assert df.filter(V._in_list("k", list(range(600)))).count() == 100


def test_in_builder_round_trips_do_not_grow_with_keys(spark, monkeypatch):
    """Building the predicate costs the same py4j round trips for 5
    keys as for 600 (``isin`` pays two per key)."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(*a, **kw):
        sent.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)

    def trips(build) -> int:
        sent.clear()
        build()
        return len(sent)

    for vals in (list(range(600)), [f"v{i}'" for i in range(600)]):
        few = trips(lambda: V._in_list("k", vals[:5]))
        assert trips(lambda: V._in_list("k", vals)) == few <= 3
    assert trips(lambda: F.col("k").isin(list(range(600)))) >= 600


# -- schema-pinned scans -------------------------------------------------------


def _inferred_scan(spark, m: dict, dirs_abs: list[str]):
    """The scan ``_scan_dirs`` replaced: footer-inferred schema
    (mergeSchema on evolved chains, one root per hive-partitioned dir),
    then conformed to the manifest schema."""
    paths = [p for p in dirs_abs if V.fsio.has_parquet(p)]
    if m.get("partition_by"):
        out = None
        for p in paths:
            part = spark.read.parquet(p)
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True)
    else:
        reader = spark.read
        if m.get("schema_evolved"):
            reader = reader.option("mergeSchema", "true")
        out = reader.parquet(*paths)
    return V._conform_to_schema(out, m)


def _assert_scans_agree(spark, tdir: str) -> None:
    m = V.read_manifest(tdir, V.latest_version(tdir))
    dirs_abs = [os.path.join(tdir, d) for d in V._chain_dirs(m)]
    pinned = V._scan_dirs(spark, m, dirs_abs)
    inferred = _inferred_scan(spark, m, dirs_abs)
    assert pinned.schema == inferred.schema
    assert sorted(map(tuple, pinned.collect()), key=repr) \
        == sorted(map(tuple, inferred.collect()), key=repr)


def test_pinned_scan_equals_inferred_on_evolved_chain(spark, tmp_path):
    tdir = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id AS k", "'a' AS s"), tdir,
                    append=True, stats_for=["k"])
    V.write_version(spark.range(5, 9).selectExpr(
        "id AS k", "'b' AS s", "CAST(id * 2 AS INT) AS extra",
        "DATE'2024-01-01' AS d"), tdir, append=True)
    V.write_version(spark.range(9, 12).selectExpr(
        "id AS k", "'c' AS s", "CAST(NULL AS INT) AS extra",
        "CAST(NULL AS DATE) AS d"), tdir, append=True)
    assert V.read_manifest(tdir, 3)["schema_evolved"]
    _assert_scans_agree(spark, tdir)


def test_pinned_scan_equals_inferred_on_partitioned_chain(spark, tmp_path):
    tdir = str(tmp_path / "t")
    for lo in (0, 20, 40):
        V.write_version(
            spark.range(lo, lo + 20).selectExpr(
                "id AS k", "CAST(id % 3 AS BIGINT) AS p",
                "CAST(id AS STRING) AS s"),
            tdir, append=True, partition_by=["p"], stats_for=["k"])
    # a zero-row partitioned append writes no parquet file at all
    V.write_version(spark.range(0).selectExpr(
        "id AS k", "CAST(id AS BIGINT) AS p", "CAST(id AS STRING) AS s"),
        tdir, append=True, partition_by=["p"])
    _assert_scans_agree(spark, tdir)


def test_pinned_scan_reads_deletion_vectors_like_inferred(spark, tmp_path):
    tdir = str(tmp_path / "t")
    for lo in (0, 10):
        V.write_version(spark.range(lo, lo + 10).withColumnRenamed("id", "k"),
                        tdir, append=True)
    V.delete_version_dv(spark, tdir, keys=[3, 12], key="k")
    m = V.read_manifest(tdir, 3)
    live = V._scan_dirs(spark, m, [os.path.join(tdir, d)
                                   for d in V._chain_dirs(m)], tdir)
    assert sorted(r["k"] for r in live.collect()) \
        == [k for k in range(20) if k not in (3, 12)]
    dv = spark.read.parquet(os.path.join(tdir, m["dv"]["path"]))
    assert V._dv_frame(spark, tdir, m).schema == dv.schema


# -- one avg aggregate ---------------------------------------------------------


def test_avg_components_scanning_different_dirs_share_one_aggregate(
        spark, tmp_path):
    """A dir whose stats carry a null count but no sum (a pre-sum
    manifest entry): COUNT folds it from the manifest while SUM must
    scan it, so the one residual aggregate sums that dir's rows without
    counting them again."""
    tdir = str(tmp_path / "t")
    for lo in (0, 100, 200):
        V.write_version(spark.range(lo, lo + 10).withColumnRenamed("id", "k"),
                        tdir, append=True, stats_for=["k"])
    path = V._manifest_path(tdir, 3)
    m = json.loads(open(path).read())
    m["col_stats"]["v=000002"]["k"] = m["col_stats"]["v=000002"]["k"][:3]
    with open(path, "w") as f:
        f.write(json.dumps(m))
    got, info = V.avg_version(spark, tdir, "k", lower=5, upper=300,
                              detail=True)
    want = V.read_version(spark, tdir).filter("k BETWEEN 5 AND 300") \
        .agg(F.avg("k")).first()[0]
    assert got == want == (sum(range(5, 10)) + sum(range(100, 110))
                           + sum(range(200, 210))) / 25
    assert info == {"sum": {"missed": 0, "summed": 1, "scanned": 2},
                    "count": {"missed": 0, "counted": 2, "scanned": 1}}
