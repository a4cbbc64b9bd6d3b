"""Copy-on-write commits, deletion vectors, and zero-copy restore on
versioned tables — the round-11 lakehouse mutation layer.

Contracts pinned here:
- delete_version_pruned rewrites ONLY provably-affected chain dirs
  (range "full" dirs drop whole with zero scan, "miss" dirs carry by
  reference; keyed deletes prune via min/max windows then blooms);
- merge_version_pruned equals the full-rewrite upsert bit-for-bit while
  touching only dirs that hold updated keys;
- delete_version_dv rewrites NOTHING: a positional sidecar that every
  read path honors, COUNT stays metadata-exact, SUM/MIN/MAX soundly
  degrade, compaction folds the debt away, appends inherit it;
- restore_version is pure manifest arithmetic (no Spark), and vacuum's
  mark-and-sweep keeps every dir/sidecar any retained manifest names.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_4_spark.sources.versioned import (
    compact,
    compact_tail,
    count_version,
    delete_version_dv,
    delete_version_pruned,
    merge_version_pruned,
    minmax_version,
    read_manifest,
    read_version,
    read_version_bloom_pruned,
    read_version_pruned,
    read_version_stats_pruned,
    restore_version,
    sum_version,
    table_changes,
    vacuum,
    write_version,
    write_version_concurrent,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))


def _chain(spark, tdir, slices=((0, 10), (10, 20), (20, 30)),
           bloom=False):
    """A stats-carrying append chain, one dir per half-open slice."""
    for i, (lo, hi) in enumerate(slices):
        write_version(
            _kv(spark, lo, hi).coalesce(1), tdir, append=True,
            stats_for=["k", "v"] if i == 0 else None,
            bloom_for=["k"] if (bloom and i == 0) else None,
        )


def _keys(spark, tdir):
    return sorted(r["k"] for r in read_version(spark, tdir).collect())


# ---------------------------------------------------------------- CoW delete

def test_cow_range_delete_drops_full_dirs_without_scanning(
        spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    # k <= 9 covers dir0 exactly: dropped WHOLE, others provably missed
    v, info = delete_version_pruned(spark, tdir, where={"k": (None, 9)},
                                    detail=True)
    assert info == {"dropped": 1, "untouched": 2, "rewritten": 0}
    assert _keys(spark, tdir) == list(range(10, 30))
    # the commit is manifest arithmetic: no new data dir was written
    m = read_manifest(tdir, v)
    assert m["data_dirs"] == ["v=000002", "v=000003"]
    assert count_version(None, tdir) == 20  # metadata-only still exact


def test_cow_range_delete_rewrites_only_straddling_dirs(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    v, info = delete_version_pruned(spark, tdir, where={"k": (15, 16)},
                                    detail=True)
    assert info == {"dropped": 0, "untouched": 2, "rewritten": 1}
    assert _keys(spark, tdir) == [k for k in range(30) if k not in (15, 16)]
    # untouched dirs carried BY REFERENCE (same dir names as the parent)
    m = read_manifest(tdir, v)
    assert set(m["data_dirs"]) >= {"v=000001", "v=000003"}
    assert "v=000002" not in m["data_dirs"]
    # carried stats keep pruned reads working on the new version
    pruned = read_version_stats_pruned(spark, tdir, "k", lower=0, upper=5)
    assert sorted(r["k"] for r in pruned.collect()) == [0, 1, 2, 3, 4, 5]


def test_cow_keyed_delete_bloom_prunes_untouched_dirs(spark, tmp_path):
    tdir = str(tmp_path / "t")
    # every dir spans the keyspace (k % 3 slicing), so min/max windows
    # prune nothing — only the blooms can prove dirs out
    df = _kv(spark, 0, 30)
    for r in range(3):
        write_version(df.filter(F.col("k") % 3 == r).coalesce(1), tdir,
                      append=True, bloom_for=["k"] if r == 0 else None,
                      stats_for=["k"] if r == 0 else None)
    v, info = delete_version_pruned(spark, tdir, keys=[4, 7], key="k",
                                    detail=True)
    # 4 and 7 both have residue 1: exactly one dir holds them
    assert info["rewritten"] == 1 and info["untouched"] == 2, info
    assert _keys(spark, tdir) == [k for k in range(30) if k not in (4, 7)]


def test_cow_keyed_delete_null_semantics(spark, tmp_path):
    tdir = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k int, v int")
    write_version(base, tdir, append=True, stats_for=["k"])
    # null keys in the request are dropped; null-key base rows survive
    delete_version_pruned(spark, tdir, keys=[1, None], key="k")
    got = {(r["k"], r["v"]) for r in read_version(spark, tdir).collect()}
    assert got == {(None, 20), (3, 30)}
    assert count_version(None, tdir) == 2


def test_cow_delete_everything_leaves_readable_empty_table(
        spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    v = delete_version_pruned(spark, tdir, where={"k": (0, 99)})
    assert count_version(None, tdir) == 0
    df = read_version(spark, tdir)
    assert df.count() == 0
    assert df.columns == ["k", "v"]  # manifest schema survives
    assert read_manifest(tdir, v)["row_count"] == 0


def test_cow_refused_on_bucketed_tables(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_kv(spark, 0, 10), tdir, bucket_by=["k"], n_buckets=2)
    with pytest.raises(ValueError, match="bucketed"):
        delete_version_pruned(spark, tdir, where={"k": (0, 5)})
    with pytest.raises(ValueError, match="bucketed"):
        delete_version_dv(spark, tdir, keys=[1], key="k")


def test_cow_delete_time_travel_and_cdc(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    v = delete_version_pruned(spark, tdir, keys=[3, 12], key="k")
    # the parent snapshot is untouched — time travel still sees 3
    old = read_version(spark, tdir, version=v - 1)
    assert old.filter(F.col("k") == 3).count() == 1
    ch = table_changes(spark, tdir, "k", from_version=v - 1, to_version=v)
    ops = {(r["op"], r["k"]) for r in ch.collect()}
    assert ops == {("D", 3), ("D", 12)}


def test_cow_delete_on_partitioned_chain_keeps_pruning(spark, tmp_path):
    tdir = str(tmp_path / "t")
    ev = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p"))
    write_version(ev.filter("k < 10"), tdir, append=True,
                  partition_by=["p"], stats_for=["k"])
    write_version(ev.filter("k >= 10"), tdir, append=True,
                  partition_by=["p"])
    v, info = delete_version_pruned(spark, tdir, where={"k": (3, 4)},
                                    detail=True)
    assert info["rewritten"] == 1 and info["untouched"] == 1
    got = read_version_pruned(spark, tdir, {"p": ["1"]})
    assert sorted(r["k"] for r in got.collect()) == [
        k for k in range(20) if k % 2 == 1 and k not in (3, 4)]
    m = read_manifest(tdir, v)
    assert m["partition_by"] == ["p"]
    # the rewritten dir re-indexed its partition subdirs in the manifest
    assert set(m["dir_parts"][m["data_dirs"][-1]]) == {"p=0", "p=1"}


# ---------------------------------------------------------------- CoW merge

def test_cow_merge_matches_full_rewrite_upsert(spark, tmp_path):
    from mapreduce_4_spark.operators.maintenance import upsert

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, bloom=True)
    base = read_version(spark, tdir)
    ups = spark.createDataFrame([(5, 5555), (25, 2525), (100, 1000)],
                                "k long, v long")
    expected = sorted(
        (r["k"], r["v"]) for r in upsert(base, ups, "k").collect())
    v, info = merge_version_pruned(spark, tdir, ups, "k", detail=True)
    got = sorted((r["k"], r["v"]) for r in
                 read_version(spark, tdir).collect())
    assert got == expected
    # keys 5 and 25 live in dirs 1 and 3; dir 2 provably untouched
    assert info == {"untouched": 1, "rewritten": 2}
    assert count_version(None, tdir) == 31


def test_cow_merge_refuses_unknown_columns(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 5),))
    bad = spark.createDataFrame([(1, 2, 3)], "k long, v long, extra long")
    with pytest.raises(ValueError, match="extra"):
        merge_version_pruned(spark, tdir, bad, "k")


def test_cow_merge_insert_only_touches_nothing(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    ups = spark.createDataFrame([(100, 1), (200, 2)], "k long, v long")
    v, info = merge_version_pruned(spark, tdir, ups, "k", detail=True)
    # both keys fall outside every dir's [min, max]: pure insert
    assert info == {"untouched": 2, "rewritten": 0}
    assert _keys(spark, tdir) == list(range(20)) + [100, 200]


# ------------------------------------------------------------------ DV

def test_dv_delete_rewrites_nothing_and_all_readers_honor_it(
        spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, bloom=True)
    before = read_manifest(tdir, 3)["data_dirs"]
    v, info = delete_version_dv(spark, tdir, keys=[7, 23], key="k",
                                detail=True)
    assert info == {"deleted": 2, "dv_rows": 2}
    m = read_manifest(tdir, v)
    assert m["data_dirs"] == before  # NO dir rewritten or dropped
    assert sum(m["dv"]["dir_counts"].values()) == 2
    live = [k for k in range(30) if k not in (7, 23)]
    assert _keys(spark, tdir) == live
    # stats-pruned read
    sp = read_version_stats_pruned(spark, tdir, "k", lower=5, upper=9)
    assert sorted(r["k"] for r in sp.collect()) == [5, 6, 8, 9]
    # bloom-pruned point lookup: the bloom still HITS (can't unlearn a
    # key) but the row is gone
    bl = read_version_bloom_pruned(spark, tdir, "k", [7, 8])
    assert sorted(r["k"] for r in bl.collect()) == [8]
    # metadata COUNT stays exact with zero scans
    assert count_version(None, tdir) == 28
    n, ci = count_version(spark, tdir, "k", lower=0, upper=9, detail=True)
    assert n == 9
    # SUM/MIN/MAX degrade DV dirs to scans but stay CORRECT
    assert sum_version(spark, tdir, "k") == sum(live)
    assert minmax_version(spark, tdir, "k") == (0, 29)
    # time travel: the parent still has the rows
    assert read_version(spark, tdir, version=v - 1).filter(
        F.col("k") == 7).count() == 1


def test_dv_deletes_accumulate_without_duplicates(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    delete_version_dv(spark, tdir, keys=[3], key="k")
    # overlapping request: 3 is already gone, only 4 is new
    v, info = delete_version_dv(spark, tdir, keys=[3, 4], key="k",
                                detail=True)
    assert info == {"deleted": 1, "dv_rows": 2}
    assert count_version(None, tdir) == 18
    assert _keys(spark, tdir) == [k for k in range(20) if k not in (3, 4)]


def test_dv_predicate_and_range_forms(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    delete_version_dv(spark, tdir, predicate=F.col("v") >= 80)
    assert _keys(spark, tdir) == list(range(8))
    delete_version_dv(spark, tdir, where={"k": (0, 1)})
    assert _keys(spark, tdir) == list(range(2, 8))
    with pytest.raises(ValueError, match="exactly one"):
        delete_version_dv(spark, tdir, keys=[1], key="k",
                          where={"k": (0, 1)})


def test_dv_survives_appends_on_both_publish_paths(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    delete_version_dv(spark, tdir, keys=[5], key="k")
    write_version(_kv(spark, 50, 52).coalesce(1), tdir, append=True)
    write_version_concurrent(_kv(spark, 60, 62).coalesce(1), tdir,
                             append=True)
    assert _keys(spark, tdir) == [0, 1, 2, 3, 4, 6, 7, 8, 9,
                                  50, 51, 60, 61]
    assert count_version(None, tdir) == 13


def test_dv_inside_staged_dirs_addresses_the_right_file(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_kv(spark, 0, 10).coalesce(1), tdir, append=True)
    write_version_concurrent(_kv(spark, 10, 20).coalesce(2), tdir,
                             append=True)
    v = delete_version_dv(spark, tdir, keys=[13, 17], key="k")
    m = read_manifest(tdir, v)
    assert any(d.startswith("_staged/") for d in m["dv"]["dir_counts"])
    assert _keys(spark, tdir) == [k for k in range(20)
                                  if k not in (13, 17)]


def test_compaction_folds_the_dv_away(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    delete_version_dv(spark, tdir, keys=[1, 11, 21], key="k")
    live = [k for k in range(30) if k not in (1, 11, 21)]
    # tail fold: dir0's entry carries (base), dirs 1-2's entries fold
    v = compact_tail(spark, tdir, keep_base=1)
    m = read_manifest(tdir, v)
    assert m["dv"] is not None and list(m["dv"]["dir_counts"]) == [
        "v=000001"]
    assert _keys(spark, tdir) == live
    assert count_version(None, tdir) == 27
    # full compact retires the sidecar entirely
    v2 = compact(spark, tdir)
    assert read_manifest(tdir, v2).get("dv") is None
    assert _keys(spark, tdir) == live


def test_dv_then_cow_restricts_the_carried_vector(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    delete_version_dv(spark, tdir, keys=[5, 25], key="k")
    # CoW-rewrite the dir holding 5 (range delete inside dir0): its DV
    # entry must drop with the dir; dir2's entry must carry
    v, info = delete_version_pruned(spark, tdir, where={"k": (8, 9)},
                                    detail=True)
    assert info["rewritten"] == 1
    m = read_manifest(tdir, v)
    assert list(m["dv"]["dir_counts"]) == ["v=000003"]
    assert _keys(spark, tdir) == [
        k for k in range(30) if k not in (5, 8, 9, 25)]
    assert count_version(None, tdir) == 26


def test_vacuum_sweeps_orphaned_dv_sidecars_keeps_referenced(
        spark, tmp_path):
    import os

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    delete_version_dv(spark, tdir, keys=[2], key="k")   # sidecar A
    delete_version_dv(spark, tdir, keys=[3], key="k")   # sidecar B (A+B)
    assert len(os.listdir(os.path.join(tdir, "_dv"))) == 2
    vacuum(tdir, keep_last=1, staged_ttl_s=0.0)
    # only the latest manifest's sidecar survives
    left = os.listdir(os.path.join(tdir, "_dv"))
    assert len(left) == 1
    assert _keys(spark, tdir) == [k for k in range(10) if k not in (2, 3)]


def test_dv_on_evolved_chain_null_pads_and_deletes(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_kv(spark, 0, 10).coalesce(1), tdir, append=True,
                  stats_for=["k"])
    write_version(
        _kv(spark, 10, 20).withColumn("w", F.col("k") + 1).coalesce(1),
        tdir, append=True)
    delete_version_dv(spark, tdir, keys=[5, 15], key="k")
    got = {r["k"]: r["w"] for r in read_version(spark, tdir).collect()}
    assert 5 not in got and 15 not in got
    assert got[3] is None and got[13] == 14
    assert count_version(None, tdir) == 18


def test_mr4ver_datasource_honors_deletion_vectors(spark, tmp_path):
    from mapreduce_4_spark.sources.pyds import register_versioned_source

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    delete_version_dv(spark, tdir, keys=[4, 14], key="k")
    register_versioned_source(spark)
    via_ds = spark.read.format("mr4ver").load(tdir)
    assert sorted(r["k"] for r in via_ds.collect()) == [
        k for k in range(20) if k not in (4, 14)]
    # bit-equal to the JVM front door
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, read_version(spark, tdir).collect()))


def test_cdc_feed_delivers_dv_and_cow_deletes(spark, tmp_path):
    """The streaming change feed needs no DV/CoW awareness: every batch
    is table_changes(v-1, v), and both read through read_version —
    deletes arrive as 'D' ops whichever commit strategy produced them."""
    from mapreduce_4_spark.streaming.cdc import replay_changes

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    delete_version_dv(spark, tdir, keys=[2], key="k")        # v3
    delete_version_pruned(spark, tdir, keys=[12], key="k")   # v4
    seen: dict[int, set] = {}
    delivered = replay_changes(
        spark, tdir, "k", str(tmp_path / "ckpt.json"),
        lambda df, v: seen.__setitem__(
            v, {(r["op"], r["k"]) for r in df.collect()}),
    )
    assert delivered == [1, 2, 3, 4]
    assert seen[3] == {("D", 2)}
    assert seen[4] == {("D", 12)}


# --------------------------------------------------------------- restore

def test_restore_is_zero_copy_and_round_trips(spark, tmp_path):
    import os

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20)))
    delete_version_pruned(spark, tdir, where={"k": (0, 9)})  # v3
    n_dirs = len([d for d in os.listdir(tdir) if d.startswith("v=")])
    rv = restore_version(tdir, 2)  # roll the delete back
    assert rv == 4
    # zero-copy: restoring wrote NO new data dir
    assert len([d for d in os.listdir(tdir)
                if d.startswith("v=")]) == n_dirs
    assert _keys(spark, tdir) == list(range(20))
    assert count_version(None, tdir) == 20
    m = read_manifest(tdir, rv)
    assert m["restored_from"] == 2 and m["parent"] == 3
    # CDC across the restore shows the rollback as inserts
    ch = table_changes(spark, tdir, "k", from_version=3, to_version=rv)
    assert {(r["op"], r["k"]) for r in ch.collect()} == {
        ("I", k) for k in range(10)}


def test_restore_dv_version_carries_the_sidecar(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    v_dv = delete_version_dv(spark, tdir, keys=[7], key="k")
    compact(spark, tdir)  # v3: folded, DV-free
    rv = restore_version(tdir, v_dv)
    assert read_manifest(tdir, rv)["dv"] is not None
    assert _keys(spark, tdir) == [k for k in range(10) if k != 7]
    # vacuum keeps the restored manifest's dirs AND sidecar
    vacuum(tdir, keep_last=1, staged_ttl_s=0.0)
    assert _keys(spark, tdir) == [k for k in range(10) if k != 7]


def test_restore_refuses_bucketed_and_missing_targets(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_kv(spark, 0, 10), tdir, bucket_by=["k"], n_buckets=2)
    with pytest.raises(ValueError, match="bucketed"):
        restore_version(tdir, 1)
    tdir2 = str(tmp_path / "t2")
    _chain(spark, tdir2, slices=((0, 5),))
    with pytest.raises(FileNotFoundError):
        restore_version(tdir2, 99)


# --------------------------------------------------------------- update

def test_cow_update_rewrites_only_matching_dirs(spark, tmp_path):
    from mapreduce_4_spark.sources.versioned import update_version_pruned

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, bloom=True)
    # range update confined to dir1; expressions see the OLD row
    v, info = update_version_pruned(
        spark, tdir, {"v": F.col("v") + 1000},
        where={"k": (12, 14)}, detail=True)
    assert info == {"untouched": 2, "rewritten": 1}
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert all(got[k] == k * 10 + (1000 if 12 <= k <= 14 else 0)
               for k in range(30))
    assert count_version(None, tdir) == 30  # updates never change counts
    # keyed update routed by bloom; literal assignment casts to the
    # column's type
    v, info = update_version_pruned(
        spark, tdir, {"v": -1}, keys=[25], key="k", detail=True)
    assert info["rewritten"] == 1
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got[25] == -1 and got[24] == 240
    # stats for the rewritten dir recomputed: a pruned read still works
    pruned = read_version_stats_pruned(spark, tdir, "k", lower=0, upper=3)
    assert sorted(r["k"] for r in pruned.collect()) == [0, 1, 2, 3]


def test_cow_update_refuses_unknown_columns_and_bad_modes(spark, tmp_path):
    from mapreduce_4_spark.sources.versioned import update_version_pruned

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 5),))
    with pytest.raises(ValueError, match="nope"):
        update_version_pruned(spark, tdir, {"nope": 1},
                              where={"k": (0, 1)})
    with pytest.raises(ValueError, match="either keys"):
        update_version_pruned(spark, tdir, {"v": 1})


def test_cow_update_null_condition_keeps_row(spark, tmp_path):
    from mapreduce_4_spark.sources.versioned import update_version_pruned

    tdir = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k int, v int")
    write_version(base, tdir, append=True, stats_for=["k"])
    # NULL condition rows are NOT updated (SQL UPDATE semantics)
    update_version_pruned(spark, tdir, {"v": 0}, where={"k": (0, 9)})
    got = {(r["k"], r["v"]) for r in read_version(spark, tdir).collect()}
    assert got == {(1, 0), (None, 20), (3, 0)}


# ----------------------------------------------------------------- tags

def test_tags_name_versions_and_override_vacuum(spark, tmp_path):
    """A tag addresses every reader by name and pins its version
    against vacuum — the 'train-v1 is exactly this data, forever'
    contract."""
    from mapreduce_4_spark.sources.versioned import (
        delete_tag,
        list_tags,
        resolve_tag,
        tag_version,
    )

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20), (20, 30)))
    assert tag_version(tdir, "train-v1", version=2) == 2
    tag_version(tdir, "latest-blessed")  # defaults to latest (v3)
    assert list_tags(tdir) == {"train-v1": 2, "latest-blessed": 3}
    # string version = tag name, through readers AND aggregates
    assert read_version(spark, tdir, version="train-v1").count() == 20
    assert count_version(None, tdir, version="train-v1") == 20
    assert sum_version(None, tdir, "k", version="train-v1") == sum(range(20))
    # immutable: no silent re-pointing
    with pytest.raises(ValueError, match="already exists"):
        tag_version(tdir, "train-v1", version=3)
    with pytest.raises(FileNotFoundError, match="no tag"):
        resolve_tag(tdir, "nope")
    # vacuum keeps the tagged v2 alive (keep_last=1 would doom it)
    removed = vacuum(tdir, keep_last=1, staged_ttl_s=0.0)
    assert removed == [1]
    assert _keys(spark, tdir) == list(range(30))
    assert read_version(spark, tdir, version="train-v1").count() == 20
    # dropping the tag releases it to the next vacuum
    assert delete_tag(tdir, "train-v1") == 2
    removed = vacuum(tdir, keep_last=1, staged_ttl_s=0.0)
    assert removed == [2]
    assert list_tags(tdir) == {"latest-blessed": 3}


def test_tag_keeps_dv_sidecar_and_mr4ver_reads_by_tag(spark, tmp_path):
    from mapreduce_4_spark.sources.pyds import register_versioned_source
    from mapreduce_4_spark.sources.versioned import tag_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    delete_version_dv(spark, tdir, keys=[7], key="k")  # v2, with DV
    tag_version(tdir, "snap")
    compact(spark, tdir)  # v3, DV-free
    vacuum(tdir, keep_last=1, staged_ttl_s=0.0)
    # the tagged DV version's manifest, dirs, AND sidecar all survive
    got = read_version(spark, tdir, version="snap")
    assert sorted(r["k"] for r in got.collect()) == [
        k for k in range(10) if k != 7]
    register_versioned_source(spark)
    via = (spark.read.format("mr4ver").option("version", "snap")
           .load(tdir))
    assert sorted(r["k"] for r in via.collect()) == [
        k for k in range(10) if k != 7]


def test_cli_tag_verbs(spark, tmp_path, capsys):
    from mapreduce_4_spark.__main__ import main

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 5), (5, 10)))
    assert main(["table", "tag", tdir, "--name", "rel", "--version",
                 "1"]) == 0
    assert "tagged v1 as rel" in capsys.readouterr().out
    assert main(["table", "tags", tdir]) == 0
    assert "rel\tv1" in capsys.readouterr().out
    assert main(["table", "tag", tdir, "--name", "rel", "--delete"]) == 0
    assert "deleted tag rel (was v1)" in capsys.readouterr().out
    assert main(["table", "tags", tdir]) == 0
    assert "no tags" in capsys.readouterr().out


# ----------------------------------------------------------------- fsck

def test_fsck_clean_table_and_injected_corruption(spark, tmp_path):
    """fsck_table reports nothing on a healthy table and finds every
    injected inconsistency class — report, never repair."""
    import json
    import os
    import shutil

    from mapreduce_4_spark.sources.versioned import (
        fsck_table,
        tag_version,
    )

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    delete_version_dv(spark, tdir, keys=[5], key="k")
    tag_version(tdir, "ok")
    assert fsck_table(tdir) == []
    assert fsck_table(tdir, spark=spark) == []  # deep: stats agree

    # corruption 1: hand-edit a dir_rows entry and the row_count
    mp = os.path.join(tdir, "_versions", "000004.json")
    m = json.loads(open(mp).read())
    m["dir_rows"]["v=000002"] += 3
    open(mp, "w").write(json.dumps(m))
    found = fsck_table(tdir)
    assert any("dir_rows mismatch" in f for f in found), found
    assert any("row_count" in f for f in found), found

    # corruption 2: stats drift (min no longer matches the data)
    m = json.loads(open(mp).read())
    m["dir_rows"]["v=000002"] -= 3
    m["col_stats"]["v=000001"]["k"][0] = 99
    open(mp, "w").write(json.dumps(m))
    shallow = fsck_table(tdir)
    assert any("min > max" in f for f in shallow), shallow
    deep = fsck_table(tdir, spark=spark)
    assert any("stats drift" in f for f in deep), deep

    # corruption 3: a data dir disappears
    m = json.loads(open(mp).read())
    m["col_stats"]["v=000001"]["k"][0] = 0
    open(mp, "w").write(json.dumps(m))
    shutil.rmtree(os.path.join(tdir, "v=000003"))
    assert any("missing data dir" in f for f in fsck_table(tdir))


def test_cli_table_fsck_verb(spark, tmp_path, capsys):
    import json
    import os

    from mapreduce_4_spark.__main__ import main

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10),))
    assert main(["table", "fsck", tdir]) == 0
    assert "0 finding(s)" in capsys.readouterr().out
    mp = os.path.join(tdir, "_versions", "000001.json")
    m = json.loads(open(mp).read())
    m["row_count"] = 999
    open(mp, "w").write(json.dumps(m))
    assert main(["table", "fsck", tdir]) == 1
    out = capsys.readouterr().out
    # both row_count checks fire: bytes AND manifest arithmetic disagree
    assert "FINDING: row_count" in out and "2 finding(s)" in out


def test_collect_keys_cap_fails_loudly(spark, tmp_path):
    """A key set wider than max_keys must refuse (route to the
    join-based full rewrite), never silently degrade to a giant
    driver collect."""
    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 30),))
    wide = spark.range(100).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="max_keys"):
        delete_version_pruned(spark, tdir, keys=wide, key="k",
                              max_keys=10)
    with pytest.raises(ValueError, match="max_keys"):
        merge_version_pruned(
            spark, tdir,
            wide.withColumn("v", F.col("k")), "k", max_keys=10)


def test_key_budget_error_is_typed(spark, tmp_path):
    """The max_keys refusal is a KeyBudgetError — a ValueError
    subclass, so callers degrade to the joined paths by type (the
    merge sink does) instead of matching the message."""
    from mapreduce_4_spark.sources.versioned import KeyBudgetError

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 30),))
    wide = spark.range(100).select(F.col("id").alias("k"))
    with pytest.raises(KeyBudgetError, match="max_keys"):
        delete_version_dv(spark, tdir, keys=wide, key="k", max_keys=10)
    assert issubclass(KeyBudgetError, ValueError)
    # a narrow key set is no budget problem
    assert delete_version_pruned(spark, tdir, keys=[1], key="k",
                                 max_keys=10) == 2


def test_new_commits_never_inherit_per_commit_provenance(spark, tmp_path):
    """A DV delete or restore builds its manifest by re-spreading the
    parent's/target's — but only the structural fields: inheriting a
    streaming-merge parent's 'expectations' audit counts or a restore
    parent's 'restored_from' would misattribute commit provenance in
    history/forensics."""
    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        read_manifest,
        restore_version,
        write_version,
    )

    tdir = str(tmp_path / "t")
    base = spark.range(0, 20).withColumnRenamed("id", "k")
    write_version(base, tdir, append=True)
    # v2 carries per-commit extras the way the streaming merge sink does
    write_version(base.selectExpr("k + 100 AS k"), tdir, append=True,
                  manifest_extra={"expectations": {"dropped_null": 3},
                                  "operation": "merge-stream"})
    assert read_manifest(tdir, 2)["expectations"] == {"dropped_null": 3}

    # DV delete on top of the merge commit: no inherited expectations
    v = delete_version_dv(spark, tdir, keys=[5], key="k")
    m = read_manifest(tdir, v)
    assert "expectations" not in m and m["operation"] == "delete-dv"

    # restore targeting the merge commit: restored_from is the restore
    # commit's OWN field; the target's expectations must not ride along
    v2 = restore_version(tdir, 2)
    m2 = read_manifest(tdir, v2)
    assert m2["restored_from"] == 2 and "expectations" not in m2

    # DV delete on top of the restore: the stale restored_from dies too
    v3 = delete_version_dv(spark, tdir, keys=[101], key="k")
    m3 = read_manifest(tdir, v3)
    assert "restored_from" not in m3 and "expectations" not in m3
    assert m3["operation"] == "delete-dv"


def test_joined_delete_exact_classification_and_parity(spark, tmp_path):
    """delete_version_joined (round 12): the wide-key path max_keys
    routes to. Classification is one chain scan LeftSemi-joined
    against the key DataFrame — EXACT, so on a residue-class chain
    (every dir's window spans the keyspace, no blooms) it rewrites
    ONLY the dirs truly holding keys where the manifest classifier
    must conservatively rewrite all; the surviving table matches the
    collected-keys delete bit-for-bit."""
    from mapreduce_4_spark.sources.versioned import (
        count_version,
        delete_version_joined,
    )

    def residue_chain(tdir):
        base = _kv(spark, 0, 40)
        for r in range(4):
            write_version(base.filter(F.col("k") % 4 == r).coalesce(1),
                          tdir, append=True, stats_for=["k"])

    # keys 0,4,8: all residue 0 -> exactly one dir truly holds them
    keys = spark.createDataFrame([(0,), (4,), (8,), (None,)], "k long")
    t1 = str(tmp_path / "t1")
    residue_chain(t1)
    v, info = delete_version_joined(spark, t1, keys, "k", detail=True)
    assert info == {"dropped": 0, "untouched": 3, "rewritten": 1}, info
    assert count_version(None, t1) == 37
    got = sorted(r["k"] for r in read_version(spark, t1).collect())
    assert got == sorted(set(range(40)) - {0, 4, 8})

    # the manifest classifier on the same shape must rewrite ALL dirs
    # (windows span everything, no blooms) — the joined path's win
    t2 = str(tmp_path / "t2")
    residue_chain(t2)
    _, info2 = delete_version_pruned(spark, t2, keys=[0, 4, 8], key="k",
                                     detail=True)
    assert info2["rewritten"] == 4, info2
    assert sorted(r["k"] for r in read_version(spark, t2).collect()) == got

    # absent keys: zero rewrites, pure-manifest commit
    t3 = str(tmp_path / "t3")
    residue_chain(t3)
    _, info3 = delete_version_joined(
        spark, t3, spark.createDataFrame([(1000,)], "k long"), "k",
        detail=True)
    assert info3 == {"dropped": 0, "untouched": 4, "rewritten": 0}, info3
    assert count_version(None, t3) == 40


def test_joined_delete_honors_dv_and_merge_parity(spark, tmp_path):
    """A key already DV-deleted holds no LIVE row, so the joined
    classifier must not rewrite its dir; merge_version_joined's output
    equals the full-rewrite upsert on the same inputs and only touches
    the dirs holding updated keys."""
    from mapreduce_4_spark.operators.maintenance import upsert
    from mapreduce_4_spark.sources.versioned import (
        count_version,
        delete_version_dv,
        delete_version_joined,
        merge_version_joined,
    )

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)  # dirs [0,10) [10,20) [20,30)
    delete_version_dv(spark, tdir, keys=[5], key="k")
    # 5 is DV-dead: the joined delete of {5} must touch nothing
    _, info = delete_version_joined(
        spark, tdir, spark.createDataFrame([(5,)], "k long"), "k",
        detail=True)
    assert info["rewritten"] == 0, info
    assert count_version(None, tdir) == 29

    # wide merge: updates for keys 12, 27 + insert 100 — two dirs touch
    updates = spark.createDataFrame(
        [(12, 999), (27, 888), (100, 777)], "k long, v long")
    base_live = read_version(spark, tdir)
    want = sorted(
        (r["k"], r["v"])
        for r in upsert(base_live, updates, "k").collect())
    v, info = merge_version_joined(spark, tdir, updates, "k",
                                   detail=True)
    assert info == {"untouched": 1, "rewritten": 2}, info
    got = sorted((r["k"], r["v"])
                 for r in read_version(spark, tdir).collect())
    assert got == want
    assert count_version(None, tdir) == 30  # 29 live + 1 insert


def test_joined_update_matches_pruned_and_sql_semantics(spark, tmp_path):
    """update_version_joined: assignments evaluate against the OLD row
    for exactly the rows whose key appears in the DataFrame (null keys
    never match), only dirs truly holding keys rewrite, and the result
    equals update_version_pruned given the same keys."""
    from mapreduce_4_spark.sources.versioned import (
        update_version_joined,
        update_version_pruned,
    )

    def residue_chain(tdir):
        base = _kv(spark, 0, 40)
        for r in range(4):
            write_version(base.filter(F.col("k") % 4 == r).coalesce(1),
                          tdir, append=True, stats_for=["k"])

    assigns = {"v": F.col("v") + F.col("k")}  # OLD-row expression
    keys = spark.createDataFrame([(0,), (4,), (8,), (None,)], "k long")

    t1 = str(tmp_path / "t1")
    residue_chain(t1)
    _, info = update_version_joined(spark, t1, assigns, keys, "k",
                                    detail=True)
    assert info == {"untouched": 3, "rewritten": 1}, info
    got = {r["k"]: r["v"] for r in read_version(spark, t1).collect()}
    assert got[0] == 0 and got[4] == 44 and got[8] == 88
    assert got[1] == 10 and got[12] == 120  # untouched rows unchanged
    assert len(got) == 40

    t2 = str(tmp_path / "t2")
    residue_chain(t2)
    update_version_pruned(spark, t2, assigns, keys=[0, 4, 8], key="k")
    want = {r["k"]: r["v"] for r in read_version(spark, t2).collect()}
    assert got == want


def test_joined_classifier_envelope_prefilter(spark, tmp_path):
    """The joined classifier pre-prunes its scan by the key set's
    [min, max] envelope: dirs whose recorded window lies wholly
    outside never enter the classification scan. Pinned by deleting a
    pruned dir's FILES from disk — if the classifier scanned it the
    job would fail; the envelope proof means it never looks."""
    import shutil

    from mapreduce_4_spark.sources.versioned import (
        _dirs_holding_keys_joined,
        delete_version_joined,
    )

    tdir = str(tmp_path / "t")
    _chain(spark, tdir, slices=((0, 10), (10, 20), (20, 30)))
    # keys envelope [12, 17] intersects only dir 2's window [10, 19]
    keys = spark.createDataFrame([(12,), (17,)], "k long")
    # sabotage dir 3: any scan touching it now fails loudly
    shutil.rmtree(str(tmp_path / "t" / "v=000003"))
    v, info = delete_version_joined(spark, tdir, keys, "k", detail=True)
    assert info == {"dropped": 0, "untouched": 2, "rewritten": 1}, info
