"""Spark jobs per versioned-table operation.

At this scale a Spark job costs 0.1-0.2 s of fixed overhead, so every
job an operation runs beyond what its data needs shows in its wall
time. Each case runs one operation on a 3-dir chain with stats under
its own job group and counts the jobs Spark started for it
(``statusTracker().getJobIdsForGroup``):

- a commit runs one job for its data, the write, with the new dir's
  stats and bloom filters observed on it (no aggregate over the input,
  no read-back);
- ``analyze_table`` builds each dir's missing stats and blooms in one
  aggregate;
- a scan reads with the manifest's schema (no footer-inference job);
- a bloom probe hashes with the pure-Python xxh64 twin (no hash job);
- ``avg_version`` serves both of its components from one aggregate.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from mapreduce_4_spark.sources import versioned as V


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, lo, n=50):
    return (spark.range(lo, lo + n).withColumnRenamed("id", "k")
            .withColumn("v", F.col("k") * 2))


@pytest.fixture
def chain(spark, tmp_path):
    """A 3-dir append chain, stats on ``k``: dirs hold k in [0, 50),
    [100, 150) and [200, 250)."""

    def make(bloom: bool = False) -> str:
        tdir = str(tmp_path / f"t_{uuid.uuid4().hex[:6]}")
        for lo in (0, 100, 200):
            V.write_version(_rows(spark, lo), tdir, append=True,
                            stats_for=["k"],
                            bloom_for=["k"] if bloom else None)
        return tdir

    return make


def test_append_with_stats_is_one_job(spark, chain):
    tdir = chain()
    batch = _rows(spark, 300)
    assert _jobs(spark, lambda: V.write_version(
        batch, tdir, append=True, stats_for=["k"])) == 1
    m = V.read_manifest(tdir, 4)
    assert m["col_stats"]["v=000004"]["k"] == [300, 349, 0, sum(range(300, 350))]


def test_stats_pruned_read_is_one_job(spark, chain):
    tdir = chain()
    got = []
    assert _jobs(spark, lambda: got.extend(V.read_version_stats_pruned(
        spark, tdir, col="k", lower=110, upper=120).collect())) == 1
    assert sorted(r["k"] for r in got) == list(range(110, 121))


def test_range_delete_is_one_job(spark, chain):
    tdir = chain()
    assert _jobs(spark, lambda: V.delete_version_pruned(
        spark, tdir, where={"k": (110, 120)})) == 1
    assert V.count_version(None, tdir) == 150 - 11


def test_keyed_merge_from_dataframe_is_two_jobs(spark, chain):
    """One job collects the update keys, one writes the rewrite."""
    tdir = chain()
    ups = _rows(spark, 200, 10).withColumn("v", F.lit(0).cast("long"))
    assert _jobs(spark, lambda: V.merge_version_pruned(
        spark, tdir, ups, key="k")) == 2
    rows = {r["k"]: r["v"] for r in V.read_version(spark, tdir).collect()}
    assert len(rows) == 150 and rows[205] == 0 and rows[215] == 430


def test_bloom_pruned_read_is_one_job(spark, chain):
    tdir = chain(bloom=True)
    got = []
    assert _jobs(spark, lambda: got.extend(V.read_version_bloom_pruned(
        spark, tdir, "k", [5, 105]).collect())) == 1
    assert sorted(r["k"] for r in got) == [5, 105]


def test_bounded_avg_is_one_aggregate(spark, chain):
    """A range straddling two dirs: one aggregate over both, i.e. its
    AQE shuffle-map job plus the result job."""
    tdir = chain()
    got = []
    assert _jobs(spark, lambda: got.append(V.avg_version(
        spark, tdir, "k", lower=25, upper=125))) == 2
    assert got == [(sum(range(25, 50)) + sum(range(100, 126))) / 51]


def test_dv_delete_is_one_job(spark, chain):
    """A 2-key deletion-vector delete over two chain dirs: the sidecar
    write is the only job, its per-dir counts observed on it."""
    tdir = chain()
    assert _jobs(spark, lambda: V.delete_version_dv(
        spark, tdir, keys=[5, 105], key="k")) == 1
    m = V.read_manifest(tdir, 4)
    assert m["dv"]["count"] == 2
    assert m["dv"]["dir_counts"] == {"v=000001": 1, "v=000002": 1}
    assert V.count_version(None, tdir) == 148


def test_bloom_append_is_one_job(spark, chain):
    """The new dir's bloom rides the write's observation beside its
    stats (a distinct-positions build over the written dir cost two
    more jobs)."""
    tdir = chain(bloom=True)
    assert _jobs(spark, lambda: V.write_version(
        _rows(spark, 300), tdir, append=True)) == 1
    assert set(V.read_manifest(tdir, 4)["bloom"]) \
        == {f"v={v:06d}" for v in range(1, 5)}
    got, info = V.read_version_bloom_pruned(spark, tdir, "k", [305],
                                            detail=True)
    assert [r["k"] for r in got.collect()] == [305]
    assert info["missed"] == 3


def test_bloom_compact_tail_is_one_job(spark, chain):
    """Folding two bloom-carrying tail dirs is one job: the fold's
    write, its stats and blooms observed on it."""
    tdir = chain(bloom=True)
    assert _jobs(spark, lambda: V.compact_tail(spark, tdir)) == 1
    m = V.read_manifest(tdir, 4)
    assert m["data_dirs"] == ["v=000001", "v=000004"]
    assert set(m["bloom"]) == set(m["data_dirs"])
    assert V.count_version(None, tdir) == 150


def test_analyze_backfill_is_one_job_per_dir(spark, tmp_path):
    """Backfilling stats and a bloom column on two bare dirs: one
    aggregate per dir builds both, i.e. per dir its AQE shuffle-map job
    plus the result job (a stats aggregate and a separate
    distinct-positions bloom build per dir ran 8)."""
    tdir = str(tmp_path / "bare")
    for lo in (0, 100):
        V.write_version(_rows(spark, lo), tdir, append=True)
    assert _jobs(spark, lambda: V.analyze_table(
        spark, tdir, stats_for=["k"], bloom_for=["k"])) == 4
    m = V.read_manifest(tdir, 3)
    assert m["col_stats"]["v=000002"]["k"] == [100, 149, 0,
                                               sum(range(100, 150))]
    assert set(m["bloom"]) == {"v=000001", "v=000002"}
