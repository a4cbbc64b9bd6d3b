"""Manifest column stats + stats-pruned reads: per-dir min/max recorded
at publish time, whole chain dirs skipped when their range provably
misses a predicate — the metadata-skipping layer above parquet's own
row-group stats. Skipping is proven on the returned scan's actual
input-file list, correctness against the unpruned filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_4_spark.sources.versioned import (
    compact_tail,
    read_manifest,
    read_version,
    read_version_stats_pruned,
    upsert_version,
    write_version,
    write_version_concurrent,
)


def _classify_key_dirs(m, col, vals, dirs, positions):
    """The read planner's verdict on one point-lookup conjunct: True
    when a dir may hold one of ``vals`` in ``col``, False when the
    window-then-bloom rule proves it holds none."""
    from mapreduce_4_spark.sources.versioned import _plan_dirs

    plan = _plan_dirs(m, probes={col: [vals]},
                      positions=lambda _col: positions)
    return {d: plan[d] != "miss" for d in dirs}


def _ks(spark, start, n):
    return spark.range(start, start + n).withColumnRenamed("id", "k")


def _chain(spark, tdir, stats=True):
    for start in (0, 100, 200):
        write_version(_ks(spark, start, 10), tdir, append=True,
                      stats_for=["k"] if (stats and start == 0) else None)


def test_stats_skip_dirs_and_match_unpruned_filter(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    # appends INHERIT the chain's stats columns — every dir has an entry
    m = read_manifest(tdir, 3)
    assert m["stats_for"] == ["k"]
    assert set(m["col_stats"]) == {"v=000001", "v=000002", "v=000003"}
    assert m["col_stats"]["v=000002"]["k"] == [100, 109, 0, 1045]

    got = read_version_stats_pruned(spark, tdir, "k", lower=100, upper=105)
    files = got.inputFiles()
    assert files and all("v=000002" in f for f in files), files
    want = read_version(spark, tdir).filter("k between 100 and 105")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    # single-bound reads prune too
    hi = read_version_stats_pruned(spark, tdir, "k", lower=200)
    assert all("v=000003" in f for f in hi.inputFiles())
    assert hi.count() == 10


def test_empty_intersection_returns_manifest_schema(spark, tmp_path):
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    got = read_version_stats_pruned(spark, tdir, "k", lower=500, upper=600)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k"]


def test_dirs_without_stats_are_scanned_not_skipped(spark, tmp_path):
    tdir = str(tmp_path / "t")
    # v1 published before anyone asked for stats; v2 starts collecting
    write_version(_ks(spark, 0, 10), tdir, append=True)
    write_version(_ks(spark, 100, 10), tdir, append=True, stats_for=["k"])
    m = read_manifest(tdir, 2)
    assert set(m["col_stats"]) == {"v=000002"}
    got = read_version_stats_pruned(spark, tdir, "k", lower=0, upper=5)
    # v1 has no stats -> conservatively scanned; v2 provably misses
    assert all("v=000001" in f for f in got.inputFiles())
    assert got.count() == 6


def test_date_stats_prune_with_string_order(spark, tmp_path):
    import datetime

    tdir = str(tmp_path / "t")
    for start in (0, 100):
        df = _ks(spark, start, 10).withColumn(
            "d", F.date_add(F.to_date(F.lit("2026-01-01")),
                            F.col("k").cast("int"))
        )
        write_version(df, tdir, append=True, stats_for=["d"])
    m = read_manifest(tdir, 2)
    assert m["col_stats"]["v=000002"]["d"] == ["2026-04-11", "2026-04-20", 0]
    got = read_version_stats_pruned(
        spark, tdir, "d",
        lower=datetime.date(2026, 4, 12), upper=datetime.date(2026, 4, 14),
    )
    assert all("v=000002" in f for f in got.inputFiles())
    assert got.count() == 3


def test_partitioned_chain_stats_prune_compose(spark, tmp_path):
    tdir = str(tmp_path / "t")
    for start in (0, 100):
        df = _ks(spark, start, 10).withColumn("band", F.col("k") % 2)
        write_version(df, tdir, append=True, partition_by=["band"],
                      stats_for=["k"])
    got = read_version_stats_pruned(spark, tdir, "k", lower=0, upper=50)
    assert got.count() == 10
    assert all("v=000001" in f for f in got.inputFiles())
    assert dict(got.dtypes)["band"] == "bigint"  # manifest-pinned type


def test_maintenance_rewrites_carry_stats(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_ks(spark, 0, 10), tdir, stats_for=["k"])
    v2 = upsert_version(spark, tdir, _ks(spark, 5, 10), key="k")
    m = read_manifest(tdir, v2)
    assert m["stats_for"] == ["k"]
    assert m["col_stats"][f"v={v2:06d}"]["k"] == [0, 14, 0, 105]


def test_compact_tail_refreshes_folded_stats(spark, tmp_path):
    tdir = str(tmp_path / "t")
    for start in (0, 100, 200, 300):
        write_version(_ks(spark, start, 10), tdir, append=True,
                      stats_for=["k"] if start == 0 else None)
    v = compact_tail(spark, tdir, keep_base=1)
    m = read_manifest(tdir, v)
    assert set(m["col_stats"]) == {"v=000001", f"v={v:06d}"}
    assert m["col_stats"][f"v={v:06d}"]["k"] == [100, 309, 0, 6135]
    got = read_version_stats_pruned(spark, tdir, "k", lower=0, upper=9)
    assert all("v=000001" in f for f in got.inputFiles())
    assert got.count() == 10


def test_concurrent_publish_collects_and_prunes_stats(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version_concurrent(_ks(spark, 0, 10), tdir, append=True,
                             stats_for=["k"])
    write_version_concurrent(_ks(spark, 100, 10), tdir, append=True)
    m = read_manifest(tdir, 2)
    assert m["stats_for"] == ["k"]
    assert len(m["col_stats"]) == 2
    got = read_version_stats_pruned(spark, tdir, "k", lower=100)
    assert got.count() == 10
    assert all("_staged" in f for f in got.inputFiles())
    touched = {f.rsplit("/", 2)[-2] for f in got.inputFiles()}
    assert len(touched) == 1


def test_unorderable_type_refused_and_bounds_required(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _ks(spark, 0, 3).withColumn("dec", F.col("k").cast("decimal(10,2)"))
    with pytest.raises(ValueError, match="order-preserving"):
        write_version(df, tdir, stats_for=["dec"])
    write_version(df, tdir, stats_for=["k"])
    with pytest.raises(ValueError, match="lower or upper"):
        read_version_stats_pruned(spark, tdir, "k")


def _morton4(xc, yc):
    z = F.lit(0).cast("bigint")
    for i in range(4):
        z = z + F.shiftleft(F.shiftright(xc, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(yc, i).bitwiseAND(1), 2 * i + 1)
    return z


def test_multi_column_where_ands_and_zorder_layout_composes(spark, tmp_path):
    """where={a: .., b: ..} skips a dir when ANY column's range provably
    misses (conjunctive skipping), and a z-ordered chain keeps BOTH
    columns' per-dir ranges narrow where an arrival-ordered chain keeps
    only its sort column's — the multi-column skipping story SCALE.md
    claims, pinned on actual touched-dir counts."""
    pts = spark.range(256).select(
        (F.col("id") % 16).alias("x"),
        (F.col("id") / 16).cast("bigint").alias("y"),
    ).withColumn("z", _morton4(F.col("x"), F.col("y")))

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    for q in range(4):
        # chain A: arrival-ordered by x — each dir spans ALL of y
        write_version(
            pts.filter((F.col("x") >= q * 4) & (F.col("x") < (q + 1) * 4)),
            a_dir, append=True, stats_for=["x", "y"],
        )
        # chain B: z-ordered — each dir is one Morton quadrant, so both
        # x and y ranges are half the domain
        write_version(
            pts.filter((F.col("z") >= q * 64) & (F.col("z") < (q + 1) * 64)),
            b_dir, append=True, stats_for=["x", "y"],
        )

    def dirs_touched(df):
        return {f.rsplit("/", 2)[-2] for f in df.inputFiles()}

    # a 2-D box: the AND rule isolates ONE Morton quadrant
    box = {"x": (1, 2), "y": (9, 10)}
    got = read_version_stats_pruned(spark, b_dir, where=box)
    assert len(dirs_touched(got)) == 1
    want = read_version(spark, b_dir).filter(
        "x between 1 and 2 and y between 9 and 10")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))

    # a y-only band: the x-ordered chain cannot skip anything (every
    # dir spans all of y); the z-ordered chain halves the work
    band = {"y": (1, 2)}
    a_touch = dirs_touched(read_version_stats_pruned(spark, a_dir,
                                                     where=band))
    b_touch = dirs_touched(read_version_stats_pruned(spark, b_dir,
                                                     where=band))
    assert len(a_touch) == 4 and len(b_touch) == 2

    with pytest.raises(ValueError, match="not both"):
        read_version_stats_pruned(spark, b_dir, "x", lower=0,
                                  where={"y": (0, 1)})


def test_fuzz_pruned_read_equals_full_filter(spark, tmp_path):
    """Seeded fuzz: random overlapping chains, random (or open) bounds —
    the stats-pruned read must equal the full-scan filter exactly, no
    matter how the dir ranges and the probe interact. Skipping may only
    ever remove work, never rows."""
    import random

    rng = random.Random(100)
    for case in range(4):
        tdir = str(tmp_path / f"t{case}")
        lo_all = []
        for _ in range(rng.randint(2, 4)):
            start = rng.randint(0, 80)
            n = rng.randint(1, 25)
            lo_all += list(range(start, start + n))
            write_version(_ks(spark, start, n), tdir, append=True,
                          stats_for=["k"])
        for _ in range(3):
            lo = rng.choice([None, rng.randint(-5, 90)])
            hi = rng.choice([None, rng.randint(-5, 110)])
            if lo is None and hi is None:
                lo = 0
            got = sorted(
                r["k"] for r in read_version_stats_pruned(
                    spark, tdir, "k", lower=lo, upper=hi).collect()
            )
            want = sorted(k for k in lo_all
                          if (lo is None or k >= lo)
                          and (hi is None or k <= hi))
            assert got == want, (case, lo, hi)


def test_incomparable_bound_scans_instead_of_crashing(spark, tmp_path):
    """A bound the stored stats can't be compared against (string vs
    numeric) must degrade to a scan with the residual filter's SQL cast
    semantics, never a driver TypeError."""
    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    got = read_version_stats_pruned(spark, tdir, "k",
                                    lower="100", upper="105")
    assert sorted(r["k"] for r in got.collect()) == list(range(100, 106))


# --- count_version: metadata-only COUNTs ----------------------------------


def test_count_version_unbounded_is_manifest_only(spark, tmp_path):
    """No predicate -> the manifest's exact row_count, provably without
    a SparkSession (spark=None) — no job, no file listing."""
    from mapreduce_4_spark.sources.versioned import count_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    assert count_version(None, tdir) == 30
    n, info = count_version(None, tdir, detail=True)
    assert n == 30 and info == {"missed": 0, "counted": 3, "scanned": 0}


def test_count_version_dir_aligned_range_needs_no_scan(spark, tmp_path):
    """Bounds that fully cover some dirs and provably miss the rest are
    answered from dir_rows alone — spark=None is the proof."""
    from mapreduce_4_spark.sources.versioned import count_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    n, info = count_version(None, tdir, "k", lower=100, upper=109,
                            detail=True)
    assert n == 10
    assert info == {"missed": 2, "counted": 1, "scanned": 0}
    # open-ended bound covering the whole tail
    assert count_version(None, tdir, "k", lower=100) == 20


def test_count_version_straddling_range_scans_only_boundary_dirs(
        spark, tmp_path):
    from mapreduce_4_spark.sources.versioned import count_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    # [105, 205]: v1 provably misses, v2 and v3 straddle -> scan exactly 2
    with pytest.raises(ValueError, match="pass a SparkSession"):
        count_version(None, tdir, "k", lower=105, upper=205)
    n, info = count_version(spark, tdir, "k", lower=105, upper=205,
                            detail=True)
    want = read_version(spark, tdir).filter("k between 105 and 205").count()
    assert n == want == 11
    assert info == {"missed": 1, "counted": 0, "scanned": 2}


def test_count_version_nulls_block_metadata_counting(spark, tmp_path):
    """min/max ignore nulls, so a dir holding nulls is never 'fully
    inside' a range — it must be scanned and its nulls excluded."""
    from mapreduce_4_spark.sources.versioned import count_version

    tdir = str(tmp_path / "t")
    df = spark.range(10).select(
        F.when(F.col("id") < 7, F.col("id")).alias("k")
    )
    write_version(df, tdir, append=True, stats_for=["k"])
    m = read_manifest(tdir, 1)
    assert m["col_stats"]["v=000001"]["k"] == [0, 6, 3, 21]
    assert m["dir_rows"] == {"v=000001": 10}
    with pytest.raises(ValueError, match="pass a SparkSession"):
        count_version(None, tdir, "k", lower=0, upper=6)
    n, info = count_version(spark, tdir, "k", lower=0, upper=6, detail=True)
    assert n == 7 and info["scanned"] == 1
    # unbounded count still metadata-only (nulls are rows too)
    assert count_version(None, tdir) == 10


def test_count_version_legacy_manifest_degrades_to_scan(spark, tmp_path):
    """Manifests written before dir_rows / null counts stay correct:
    full coverage can't be proven, so the dir scans."""
    import json
    import os

    from mapreduce_4_spark.sources.versioned import count_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    # rewrite v3's manifest to the legacy shape
    mpath = os.path.join(tdir, "_versions", "000003.json")
    m = json.loads(open(mpath).read())
    del m["dir_rows"]
    m["col_stats"] = {
        d: {c: ent[:2] for c, ent in s.items()}
        for d, s in m["col_stats"].items()
    }
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="pass a SparkSession"):
        count_version(None, tdir, "k", lower=100, upper=109)
    n, info = count_version(spark, tdir, "k", lower=100, upper=109,
                            detail=True)
    assert n == 10
    assert info["missed"] == 2 and info["scanned"] == 1
    assert count_version(None, tdir) == 30  # row_count needs no dir_rows


def test_count_version_partitioned_concurrent_and_compacted(spark, tmp_path):
    """dir_rows flows through every publish path: partitioned appends,
    the concurrent CAS writer, and tail compaction."""
    from mapreduce_4_spark.sources.versioned import count_version

    pdir = str(tmp_path / "p")
    for start in (0, 100):
        df = _ks(spark, start, 10).withColumn("band", F.col("k") % 2)
        write_version(df, pdir, append=True, partition_by=["band"],
                      stats_for=["k"])
    assert count_version(None, pdir, "k", lower=100, upper=109) == 10
    n = count_version(spark, pdir, "k", lower=5, upper=104)
    assert n == 10  # straddles both dirs, partition cols restored

    cdir = str(tmp_path / "c")
    write_version_concurrent(_ks(spark, 0, 10), cdir, append=True,
                             stats_for=["k"])
    write_version_concurrent(_ks(spark, 100, 10), cdir, append=True)
    assert count_version(None, cdir, "k", lower=100, upper=109) == 10

    tdir = str(tmp_path / "t")
    for start in (0, 100, 200, 300):
        write_version(_ks(spark, start, 10), tdir, append=True,
                      stats_for=["k"] if start == 0 else None)
    v = compact_tail(spark, tdir, keep_base=1)
    m = read_manifest(tdir, v)
    assert m["dir_rows"] == {"v=000001": 10, f"v={v:06d}": 30}
    assert count_version(None, tdir, "k", lower=100) == 30
    assert count_version(None, tdir) == 40


def test_minmax_version_metadata_only_and_scan_fallback(spark, tmp_path):
    """MIN/MAX fold per-dir recorded minima/maxima — no null-count
    caveat (SQL MIN/MAX ignore nulls, and all-null dirs record
    [None, None] which contributes nothing); dirs published before
    stats collection scan and fold in."""
    from mapreduce_4_spark.sources.versioned import minmax_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)  # all three dirs carry stats
    assert minmax_version(None, tdir, "k") == (0, 209)

    # a dir with nulls: min/max unaffected, still metadata-only
    ndir = str(tmp_path / "n")
    write_version(
        spark.range(10).select(
            F.when(F.col("id") < 7, F.col("id")).alias("k")),
        ndir, append=True, stats_for=["k"])
    write_version(
        spark.range(100, 110).select(F.col("id").alias("k")),
        ndir, append=True)
    assert minmax_version(None, ndir, "k") == (0, 109)

    # all-null table -> (None, None), still metadata-only
    adir = str(tmp_path / "a")
    write_version(
        spark.range(3).select(F.lit(None).cast("bigint").alias("k")),
        adir, stats_for=["k"])
    assert minmax_version(None, adir, "k") == (None, None)

    # pre-stats dir forces a scan of exactly that dir
    ldir = str(tmp_path / "l")
    write_version(_ks(spark, 500, 10), ldir, append=True)  # no stats yet
    write_version(_ks(spark, 0, 10), ldir, append=True, stats_for=["k"])
    with pytest.raises(ValueError, match="no recorded stats"):
        minmax_version(None, ldir, "k")
    assert minmax_version(spark, ldir, "k") == (0, 509)


def test_minmax_version_date_stats_stay_string_canonical(spark, tmp_path):
    """Date columns fold scanned values into the stats' canonical
    string form so mixed statted/unstatted chains compare in one
    total order."""
    from mapreduce_4_spark.sources.versioned import minmax_version

    tdir = str(tmp_path / "t")
    df1 = _ks(spark, 0, 5).withColumn(
        "d", F.date_add(F.to_date(F.lit("2026-01-01")),
                        F.col("k").cast("int")))
    df2 = _ks(spark, 100, 5).withColumn(
        "d", F.date_add(F.to_date(F.lit("2026-01-01")),
                        F.col("k").cast("int")))
    write_version(df1, tdir, append=True)            # unstatted
    write_version(df2, tdir, append=True, stats_for=["d"])
    assert minmax_version(spark, tdir, "d") == ("2026-01-01", "2026-04-15")


def test_sum_version_metadata_bounded_and_float_refusal(spark, tmp_path):
    """Integral stats columns record exact per-dir BIGINT sums, so
    unbounded and dir-aligned range SUMs are metadata-only; float
    columns never record sums (re-association would change the value)
    and always scan; straddling ranges scan only boundary dirs."""
    from mapreduce_4_spark.sources.versioned import sum_version

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)  # dirs: k in [0,10), [100,110), [200,210)
    # unbounded: pure metadata
    want_all = sum(range(10)) + sum(range(100, 110)) + sum(range(200, 210))
    assert sum_version(None, tdir, "k") == want_all
    # dir-aligned range: pure metadata
    n, info = sum_version(None, tdir, "k", lower=100, upper=109,
                          detail=True)
    assert n == sum(range(100, 110))
    assert info == {"missed": 2, "summed": 1, "scanned": 0}
    # straddling: scans exactly the two boundary dirs
    with pytest.raises(ValueError, match="pass a SparkSession"):
        sum_version(None, tdir, "k", lower=105, upper=205)
    n, info = sum_version(spark, tdir, "k", lower=105, upper=205,
                          detail=True)
    assert n == sum(range(105, 110)) + sum(range(200, 206))
    assert info == {"missed": 1, "summed": 0, "scanned": 2}

    # float column: stats stay 3-element, sums always scan
    fdir = str(tmp_path / "f")
    write_version(
        _ks(spark, 0, 10).withColumn("x", F.col("k") * 0.5),
        fdir, stats_for=["x"])
    m = read_manifest(fdir, 1)
    assert len(m["col_stats"]["v=000001"]["x"]) == 3
    with pytest.raises(ValueError, match="pass a SparkSession"):
        sum_version(None, fdir, "x")
    assert sum_version(spark, fdir, "x") == pytest.approx(22.5)

    # all-null integral column: recorded sum None -> metadata, SQL NULL
    adir = str(tmp_path / "a")
    write_version(
        spark.range(3).select(F.lit(None).cast("bigint").alias("k")),
        adir, stats_for=["k"])
    assert sum_version(None, adir, "k") is None


def test_metadata_aggregates_with_overlapping_dir_ranges(spark, tmp_path):
    """Arrival-ordered data has overlapping key ranges across dirs
    (late arrivals). Classification must stay sound: overlapping dirs
    are partial (scanned) unless provably covered, and count/sum/minmax
    all match the brute-force scan on every query shape."""
    import random

    from mapreduce_4_spark.sources.versioned import (
        count_version,
        minmax_version,
        sum_version,
    )

    rng = random.Random(7)
    tdir = str(tmp_path / "t")
    all_rows = []
    for _ in range(6):
        lo = rng.randrange(0, 150)
        n = rng.randrange(0, 60)  # some dirs may be empty
        vals = [lo + rng.randrange(0, 80) for _ in range(n)]
        all_rows.extend(vals)
        write_version(
            spark.createDataFrame([(v,) for v in vals] or [], "k bigint"),
            tdir, append=True, stats_for=["k"])

    assert count_version(None, tdir) == len(all_rows)
    assert minmax_version(None, tdir, "k") == (
        (min(all_rows), max(all_rows)) if all_rows else (None, None))
    assert sum_version(None, tdir, "k") == (
        sum(all_rows) if all_rows else None)
    for lo, hi in [(0, 300), (40, 90), (100, 101), (299, 300), (75, 75)]:
        want = [v for v in all_rows if lo <= v <= hi]
        assert count_version(spark, tdir, "k", lower=lo, upper=hi) \
            == len(want), (lo, hi)
        got_sum = sum_version(spark, tdir, "k", lower=lo, upper=hi)
        assert got_sum == (sum(want) if want else None), (lo, hi)


def test_nan_stats_never_prove_coverage(spark, tmp_path):
    """NaN min/max stats (Spark min/max of a NaN-bearing float column)
    must classify as UNKNOWN: every NaN comparison is False, which can
    never prove 'miss' but would fall through to 'full' — and a NaN row
    fails any range predicate in a scan, so a metadata count would
    overcount. minmax must also fold NaN with Spark's ordering (NaN
    sorts larger than everything) instead of Python's order-dependent
    min()/max()."""
    from mapreduce_4_spark.sources.versioned import (
        count_version,
        minmax_version,
        sum_version,
    )

    tdir = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),)], "x double"),
        tdir, append=True, stats_for=["x"])
    write_version(
        spark.createDataFrame([(5.0,), (6.0,)], "x double"),
        tdir, append=True)
    # the NaN dir can never be metadata-counted for a range
    with pytest.raises(ValueError, match="pass a SparkSession"):
        count_version(None, tdir, "x", lower=0.0, upper=10.0)
    n, info = count_version(spark, tdir, "x", lower=0.0, upper=10.0,
                            detail=True)
    assert n == 4  # NaN fails the range predicate, exactly like a scan
    assert info["scanned"] == 1 and info["counted"] == 1
    # minmax: NaN loses every min, wins every max (Spark's ordering),
    # independent of chain dir order
    mn, mx = minmax_version(None, tdir, "x")
    assert mn == 1.0
    assert mx != mx  # NaN
    # float sums are never recorded — scans regardless of NaN
    with pytest.raises(ValueError, match="pass a SparkSession"):
        sum_version(None, tdir, "x")


def test_range_relation_nan_and_unbounded_bounds():
    """The two round-10 ADVICE holes, pinned directly. (1) A NaN BOUND
    (reachable from the CLI: _bound('nan') parses to float NaN) makes
    every comparison False — a zero-null dir used to fall through to
    'full' and be metadata-counted while the residual scan filter
    (col >= NaN) matches zero rows, so metadata and scan disagreed. NaN
    bounds now degrade to 'partial' exactly like NaN stats. (2) A
    where entry with BOTH bounds None is satisfied by every row
    including nulls — it must not drag a null-bearing dir down to a
    scan when the other columns prove 'full'."""
    from math import nan

    from mapreduce_4_spark.sources.versioned import _range_relation

    for bounds in ((nan, None), (None, nan), (nan, nan)):
        assert _range_relation({"k": [1.0, 10.0, 0]}, 10,
                               {"k": bounds}) == "partial"
    # unbounded column with nulls alongside a fully-covered bounded one
    assert _range_relation({"a": [1, 10, 0], "b": [1, 5, 3]}, 10,
                           {"a": (1, 10), "b": (None, None)}) == "full"
    # all-unbounded where: every row qualifies — full when dir_rows known
    assert _range_relation({"b": [1, 5, 3]}, 10,
                           {"b": (None, None)}) == "full"


def test_range_relation_soundness_fuzz():
    """Pure-function fuzz of the classification keystone: for random
    dir contents (ints, nulls, NaN) and random bounds, 'miss' must
    imply NO row matches and 'full' must imply EVERY row matches —
    the two directions whose failure silently corrupts pruned reads
    and metadata counts respectively. 'partial' is always sound (it
    scans). Stats are computed exactly as _column_stats records them
    (min/max/null-count over non-null values, NaN as Spark orders it:
    larger than every number)."""
    import math
    import random

    from mapreduce_4_spark.sources.versioned import _range_relation

    rng = random.Random(20260815)
    for _ in range(3000):
        n = rng.randrange(0, 8)
        rows = []
        for _ in range(n):
            r = rng.random()
            if r < 0.15:
                rows.append(None)
            elif r < 0.25:
                rows.append(float("nan"))
            elif r < 0.45:
                rows.append(rng.uniform(-20, 20))
            else:
                rows.append(rng.randrange(-20, 20))
        nonnull = [v for v in rows if v is not None]
        if nonnull:
            # Spark ordering: NaN greater than everything
            key = lambda v: (isinstance(v, float) and math.isnan(v), v)  # noqa: E731
            mn, mx = min(nonnull, key=key), max(nonnull, key=key)
        else:
            mn = mx = None
        ent = [mn, mx, len(rows) - len(nonnull)]
        if rng.random() < 0.2:
            ent = ent[:2]  # legacy 2-element entry
        def bound():
            r = rng.random()
            if r < 0.3:
                return None
            if r < 0.38:
                return float("nan")  # CLI-reachable NaN bound
            return rng.randrange(-25, 25)

        lo, hi = bound(), bound()
        dir_rows = None if rng.random() < 0.2 else len(rows)
        rel = _range_relation({"k": ent}, dir_rows, {"k": (lo, hi)})

        def matches(v):
            if lo is None and hi is None:
                # no predicate at all: every row qualifies, nulls too
                return True
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return False
            # a NaN bound compares False against everything, like SQL
            return (lo is None or v >= lo) and (hi is None or v <= hi)

        matching = [v for v in rows if matches(v)]
        if rel == "miss":
            assert not matching, (rows, ent, lo, hi, dir_rows)
        elif rel == "full":
            assert dir_rows is not None
            assert len(matching) == len(rows), (rows, ent, lo, hi)


# --- bloom-filter point-lookup dir skipping (round-11) ----------------------


def _residue_chain(spark, tdir, n=3000, bloom=True, **kw):
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import write_version

    base = spark.range(0, n).withColumnRenamed("id", "k").withColumn(
        "v", (F.col("k") * 7).cast("bigint"))
    for r in range(3):
        write_version(base.filter(F.col("k") % 3 == r), tdir, append=True,
                      bloom_for=(["k"] if bloom and r == 0 else None), **kw)
    return base


def test_bloom_pruning_skips_unsorted_dirs_exactly(spark, tmp_path):
    """The pruning axis min/max cannot provide: every residue-class dir
    spans the whole keyspace ([min, max] useless), but its bloom holds
    only its own keys — a point lookup scans exactly the dirs holding
    the probe residues (false positives possible in principle, ~1e-14
    at this fill, so the assertion is deterministic in practice)."""
    from mapreduce_4_spark.sources.versioned import (
        read_version_bloom_pruned,
    )

    tdir = str(tmp_path / "t")
    _residue_chain(spark, tdir)
    # all three probes are residue 1 -> one dir scanned, two skipped
    df, info = read_version_bloom_pruned(
        spark, tdir, "k", [4, 1000, 2998], detail=True)
    assert info == {"missed": 2, "scanned": 1, "unknown": 0}
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [
        (4, 28), (1000, 7000), (2998, 20986)]
    # residues 0 and 2 -> two dirs scanned
    df, info = read_version_bloom_pruned(
        spark, tdir, "k", [3, 5], detail=True)
    assert info == {"missed": 1, "scanned": 2, "unknown": 0}
    # absent key: every dir provably misses, result empty w/ schema
    df, info = read_version_bloom_pruned(
        spark, tdir, "k", [10_000_000], detail=True)
    assert info["missed"] == 3 and df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    # null probes are dropped; all-null probe list returns empty
    df, info = read_version_bloom_pruned(
        spark, tdir, "k", [None], detail=True)
    assert df.count() == 0 and info["missed"] == 3


def test_bloom_unknown_dirs_scan_and_layout_carries(spark, tmp_path):
    """Dirs published before bloom_for scan (unknown, never skipped);
    appends inherit the bloom columns; compact_tail recomputes the
    folded dir's bloom; upsert_version carries bloom_for like layout."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import (
        compact_tail,
        read_manifest,
        read_version_bloom_pruned,
        upsert_version,
        write_version,
    )

    tdir = str(tmp_path / "t")
    base = spark.range(0, 100).withColumnRenamed("id", "k")
    write_version(base.filter("k < 30"), tdir, append=True)  # no bloom
    write_version(base.filter("k >= 30 and k < 60"), tdir, append=True,
                  bloom_for=["k"])
    write_version(base.filter("k >= 60"), tdir, append=True)  # inherits
    m = read_manifest(tdir, 3)
    assert m["bloom_for"] == ["k"]
    assert set(m["bloom"]) == {"v=000002", "v=000003"}
    df, info = read_version_bloom_pruned(spark, tdir, "k", [65], detail=True)
    assert info == {"missed": 1, "scanned": 1, "unknown": 1}
    assert df.count() == 1

    v = compact_tail(spark, tdir)  # folds dirs 2..3; recomputed bloom
    m = read_manifest(tdir, v)
    assert set(m["bloom"]) == {f"v={v:06d}"}
    df, info = read_version_bloom_pruned(spark, tdir, "k", [65], detail=True)
    assert info == {"missed": 0, "scanned": 1, "unknown": 1}
    assert df.count() == 1

    # full rewrite (upsert) re-records a bloom for the new snapshot
    v = upsert_version(spark, tdir,
                       base.filter("k = 5").withColumn(
                           "k", F.col("k") + 1000), "k")
    m = read_manifest(tdir, v)
    assert m["bloom_for"] == ["k"] and set(m["bloom"]) == {f"v={v:06d}"}


def test_bloom_false_positive_rate_bounded(spark, tmp_path):
    """Property check on the recorded filter itself: at the default
    2^17 bits with 1000 keys (fill ~3%), absent probes must miss
    almost always — assert < 2% FP over 500 absent probes (expected
    ~fill^4 ~ 1e-6; 2% allows enormous slack without flake risk)."""
    from mapreduce_4_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    tdir = str(tmp_path / "t")
    write_version(spark.range(0, 1000).withColumnRenamed("id", "k"),
                  tdir, append=True, bloom_for=["k"])
    absent = list(range(1_000_000, 1_000_500))
    fp = 0
    for chunk in (absent[:250], absent[250:]):
        _, info = read_version_bloom_pruned(spark, tdir, "k", chunk,
                                            detail=True)
        fp += info["scanned"]
    assert fp / 2 < 0.02


def test_bloom_concurrent_writers_carry_the_index(spark, tmp_path):
    from mapreduce_4_spark.sources.versioned import (
        read_manifest,
        read_version_bloom_pruned,
        write_version,
        write_version_concurrent,
    )

    tdir = str(tmp_path / "t")
    write_version(spark.range(0, 50).withColumnRenamed("id", "k"),
                  tdir, append=True, bloom_for=["k"])
    v = write_version_concurrent(
        spark.range(100, 150).withColumnRenamed("id", "k"),
        tdir, append=True)
    m = read_manifest(tdir, v)
    assert m["bloom_for"] == ["k"] and len(m["bloom"]) == 2
    df, info = read_version_bloom_pruned(spark, tdir, "k", [120],
                                         detail=True)
    assert info == {"missed": 1, "scanned": 1, "unknown": 0}
    assert df.count() == 1


def test_write_version_zorder_layout(spark, tmp_path):
    """zorder_by as a first-class write_version layout: every written
    file's span must be NARROW in BOTH dimensions (the locality a 1-D
    sort can only give its own column), the layout must round-trip
    through the manifest and compact, and restricted layouts must be
    refused exactly like the other clustered forms."""
    import os

    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import (
        compact,
        delete_version_pruned,
        layout_from_manifest,
        read_manifest,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "t")
    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    write_version(df, tdir, zorder_by=["x", "y"], n_files=16)
    m = read_manifest(tdir, 1)
    assert m["zorder_by"] == ["x", "y"] and m["zorder_bits"] == 8
    got = read_version(spark, tdir)
    assert got.count() == n

    # per-file spans: a z-ordered 64x64 grid split into 16 files keeps
    # BOTH dimensions' spans well under the domain (perfect quartering
    # would be 16/64 each; 1-D sorting x would leave y spanning 0..63)
    data_dir = os.path.join(tdir, "v=000001")
    spans_x, spans_y = [], []
    for f in os.listdir(data_dir):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(data_dir, f), columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans_x.append(max(xs) - min(xs))
        spans_y.append(max(ys) - min(ys))
    assert len(spans_x) >= 8
    assert max(spans_x) <= 40 and max(spans_y) <= 40, (spans_x, spans_y)

    # the layout is a standing contract: compact re-establishes it
    v = compact(spark, tdir, target_files=8)
    m2 = read_manifest(tdir, v)
    assert m2["zorder_by"] == ["x", "y"]
    assert layout_from_manifest(m2)["zorder_by"] == ["x", "y"]
    assert read_version(spark, tdir).count() == n

    # CoW refuses a clustered FULL snapshot (a one-dir rewrite would
    # silently uncluster it; upsert_version preserves the layout)
    with pytest.raises(ValueError, match="clustered full snapshot"):
        delete_version_pruned(spark, tdir, where={"x": (0, 1)})
    # round 12: a clustered base ACCEPTS appends — the chain keeps
    # recording the discipline (compact_tail's layout-preserving fold
    # re-applies it) — and the CHAIN takes dir-granular CoW with the
    # discipline surviving on the manifest
    va = write_version(df.filter("payload = 123"), tdir, append=True)
    ma = read_manifest(tdir, va)
    assert ma["zorder_by"] == ["x", "y"] and ma["zorder_bits"] == 8
    assert read_version(spark, tdir).count() == n + 1
    from mapreduce_4_spark.sources.versioned import count_version

    vd = delete_version_pruned(spark, tdir, where={"payload": (0, 0)})
    md = read_manifest(tdir, vd)
    assert md["zorder_by"] == ["x", "y"]  # discipline survives CoW
    assert count_version(None, tdir) == n
    with pytest.raises(ValueError, match="whole-table"):
        write_version(df, str(tmp_path / "t2"), zorder_by=["x", "y"],
                      sort_by=["x"])
    with pytest.raises(ValueError, match=">= 2"):
        write_version(df, str(tmp_path / "t3"), zorder_by=["x"])


def test_zorder_string_column_hash_buckets(spark, tmp_path):
    """_zorder_col's documented non-numeric fallback: a string column
    (cast-to-double null, so range quantization is undefined) must
    hash-bucket — distinct values spread across buckets so the
    interleave still clusters on it — instead of silently collapsing
    to constant bucket 0 (which degenerated zorder_by over (numeric,
    string) to a 1-D sort). Nulls still land in bucket 0."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import _zorder_col

    df = spark.range(64).select(
        F.col("id").alias("x"),
        F.when(F.col("id") % 16 == 0, None)
        .otherwise(F.concat(F.lit("cat_"), (F.col("id") % 7)))
        .alias("s"),
    )
    # string-only key: bucket variety must survive the interleave
    z = df.select(F.col("s"), _zorder_col(df, ["s"], 8).alias("z"))
    rows = z.collect()
    assert len({r["z"] for r in rows if r["s"] is not None}) > 1
    # same string value -> same bucket (locality within equal values)
    by_val = {}
    for r in rows:
        if r["s"] is not None:
            by_val.setdefault(r["s"], set()).add(r["z"])
    assert all(len(zs) == 1 for zs in by_val.values())
    # nulls quantize to bucket 0 = z-value contribution 0
    assert {r["z"] for r in rows if r["s"] is None} == {0}
    # mixed (numeric, string): both dimensions contribute bits
    z2 = df.select("x", "s", _zorder_col(df, ["x", "s"], 4).alias("z"))
    nonnull = [r for r in z2.collect() if r["s"] is not None]
    same_s = {}
    for r in nonnull:
        same_s.setdefault(r["s"], set()).add(r["z"])
    # within one string value the numeric dimension still varies the key
    assert any(len(zs) > 1 for zs in same_s.values())


def test_cow_bloom_probe_is_per_dir_window(spark, tmp_path):
    """A value provably outside dir d's [min, max] window must never
    bloom-hit d: each dir is probed only against its OWN window
    survivors, not the union across dirs (the union probe forced
    unnecessary dir rewrites on cross-dir bloom hits). White-box: dir
    1's bloom is swapped for dir 2's, simulating a bloom that would
    hit the OTHER dir's key — the window restriction must still prove
    dir 1 out."""
    from mapreduce_4_spark.sources.versioned import (
        _jvm_bloom_positions,
        read_manifest,
        write_version,
    )

    tdir = str(tmp_path / "t")
    base = spark.range(0, 10).withColumnRenamed("id", "k")
    write_version(base, tdir, append=True,
                  stats_for=["k"], bloom_for=["k"])
    write_version(base.selectExpr("k + 1000 AS k"), tdir, append=True)
    m = read_manifest(tdir, 2)
    d1, d2 = "v=000001", "v=000002"
    assert set(m["bloom"]) == {d1, d2}
    # simulate a cross-dir bloom false positive: dir 1's bloom now
    # contains exactly dir 2's keys (so the union probe would hit it
    # on 1005) while its recorded window stays [0, 9]
    m["bloom"][d1] = m["bloom"][d2]
    out = _classify_key_dirs(m, "k", [5, 1005], [d1, d2],
                             _jvm_bloom_positions(spark, m, "k"))
    # 5 is in dir 1's window but misses its (swapped) bloom; 1005 is
    # outside dir 1's window and MUST NOT be probed against it
    assert out == {d1: False, d2: True}


def test_key_dir_classifier_agrees_across_hash_twins(spark, tmp_path):
    """The window-then-bloom dir classifier is one function for both
    read surfaces: with bloom positions from the JVM hash job (the
    copy-on-write path) and from the pure-Python xxh64 twin (the
    DataSource planning worker) it must classify every dir the same,
    and a column type the twin cannot hash must degrade to 'may hold'
    (never a false skip)."""
    from mapreduce_4_spark.sources import xxh64
    from mapreduce_4_spark.sources.versioned import (
        _jvm_bloom_positions,
        read_manifest,
        write_version,
    )

    tdir = str(tmp_path / "t")
    for i, lo in enumerate((0, 7, 3000, 5)):  # overlapping windows
        write_version(
            spark.range(lo, lo + 40, 3).selectExpr(
                "id AS k", "CAST(id AS STRING) AS s"),
            tdir, append=True, stats_for=["k"] if i == 0 else None,
            bloom_for=["k", "s"] if i == 0 else None, bloom_bits=512)
    m = read_manifest(tdir, 4)
    dirs = m["data_dirs"]

    def py_positions(ctype):
        def positions(vals, bits, k):
            if ctype not in xxh64.SUPPORTED_TYPES:
                return None
            return [xxh64.bloom_positions(v, ctype, bits, k) for v in vals]
        return positions

    for col, ctype, vals in (
            ("k", "bigint", [1, 8, 10, 3003, 3004, 10 ** 9]),
            ("s", "string", ["1", "10", "3003", "nope"])):
        jvm = _classify_key_dirs(m, col, vals, dirs,
                                 _jvm_bloom_positions(spark, m, col))
        py = _classify_key_dirs(m, col, vals, dirs, py_positions(ctype))
        assert jvm == py, col
        assert not all(jvm.values()), col  # something was proven out
    # no hash twin for the type: bloom evidence is unknown, so only the
    # window proves dirs out (2 lies inside dir 1's window, not in it)
    windows = {d: m["col_stats"][d]["k"][:2] for d in dirs}
    in_window = {d: lo <= 2 <= hi for d, (lo, hi) in windows.items()}
    assert in_window[dirs[0]] and not all(in_window.values())
    assert _classify_key_dirs(m, "k", [2], dirs,
                              py_positions("double")) == in_window


def test_compact_tail_reapplies_zorder_discipline(spark, tmp_path):
    """The layout-preserving fold (round 12): a Z-ordered base takes
    trickle appends (unclustered tail), and compact_tail's fold
    re-applies the RECORDED discipline — the folded dir's files are
    narrow in BOTH dimensions again, the manifest keeps the
    discipline, and `fsck --deep` stays green. Without this, trickle
    appends decayed the layout until a whole-table `table cluster`
    rewrite."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import (
        compact_tail,
        fsck_table,
        read_manifest,
        read_version,
        write_version,
    )

    def grid(n0, n1):
        return spark.range(n0, n1).select(
            (F.col("id") % 64).alias("x"),
            ((F.col("id") / 64) % 64).cast("long").alias("y"),
            F.col("id").alias("payload"))

    tdir = str(tmp_path / "t")
    write_version(grid(0, 4096), tdir, zorder_by=["x", "y"], n_files=16,
                  stats_for=["x", "y"])
    # trickle: each append spans the whole grid (maximal decay)
    for i in range(3):
        write_version(grid(4096 + i * 256, 4096 + (i + 1) * 256),
                      tdir, append=True)
    m = read_manifest(tdir, 4)
    assert m["zorder_by"] == ["x", "y"]  # discipline recorded down chain
    assert len(m["data_dirs"]) == 4

    v = compact_tail(spark, tdir, keep_base=1, target_files=8)
    m2 = read_manifest(tdir, v)
    assert m2["zorder_by"] == ["x", "y"] and m2["zorder_bits"] == 8
    assert len(m2["data_dirs"]) == 2
    assert read_version(spark, tdir).count() == 4096 + 768

    # folded dir: every file narrow in BOTH dims (the 768 trickle rows
    # cover the full 64x64 grid, so an unclustered fold would leave
    # spans ~63 on both)
    folded = os.path.join(tdir, f"v={v:06d}")
    spans_x, spans_y = [], []
    for f in os.listdir(folded):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(folded, f), columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans_x.append(max(xs) - min(xs))
        spans_y.append(max(ys) - min(ys))
    assert len(spans_x) >= 4
    assert max(spans_x) <= 40 and max(spans_y) <= 40, (spans_x, spans_y)

    # manifest bytes still audit clean, stats recomputed for the fold
    assert fsck_table(tdir, spark=spark) == []
    assert f"v={v:06d}" in m2["col_stats"]

    # the sort_by analogue: folded dir comes back range-clustered
    ts = str(tmp_path / "ts")
    write_version(grid(0, 1024), ts, sort_by=["payload"], n_files=4,
                  stats_for=["payload"])
    for i in range(2):
        write_version(grid(1024 + i * 64, 1024 + (i + 1) * 64),
                      ts, append=True)
    v2 = compact_tail(spark, ts, keep_base=1, target_files=4)
    ms = read_manifest(ts, v2)
    assert ms["sort_by"] == ["payload"]
    folded = os.path.join(ts, f"v={v2:06d}")
    ranges = []
    for f in sorted(os.listdir(folded)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(folded, f), columns=["payload"])
            vs = t.column("payload").to_pylist()
            ranges.append((min(vs), max(vs)))
    ranges.sort()
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges


def test_every_read_surface_plans_the_same_dirs(spark, tmp_path):
    """One read planner decides which chain dirs every surface touches.
    A schema-evolved chain read on the evolved column (its first dir is
    provably all-null there) and a chain whose first dir carries stats
    but no bloom, probed with values outside that dir's window: the
    stats-/bloom-pruned reads scan, ``count_version`` leaves unmissed
    and the mr4ver reader plans exactly the same dirs."""
    import os

    from mapreduce_4_spark.sources.pyds import Mr4VersionedReader
    from mapreduce_4_spark.sources.versioned import (
        _scan_schema,
        count_version,
        latest_version,
        read_version_bloom_pruned,
    )

    def scanned(df):
        return {os.path.basename(os.path.dirname(p))
                for p in df.inputFiles()}

    def planned(tdir, opts):
        m = read_manifest(tdir, latest_version(tdir))
        parts = Mr4VersionedReader(tdir, m, _scan_schema(m),
                                   opts).partitions()
        return {os.path.basename(os.path.dirname(p.path)) for p in parts}

    evolved = str(tmp_path / "evolved")
    write_version(_ks(spark, 0, 10), evolved, append=True, stats_for=["k"])
    write_version(_ks(spark, 100, 10).withColumn("c", F.col("k")), evolved,
                  append=True, stats_for=["k", "c"])
    where = {"c": (100, 120)}
    n, info = count_version(spark, evolved, where=where, detail=True)
    assert n == 10
    by_read = scanned(read_version_stats_pruned(spark, evolved, where=where))
    assert by_read == planned(evolved, {"where": "c:100:120"}) \
        == {"v=000002"}
    assert info["counted"] + info["scanned"] == len(by_read)

    bloomed = str(tmp_path / "bloomed")
    write_version(_ks(spark, 0, 10), bloomed, append=True, stats_for=["k"])
    write_version(_ks(spark, 10, 10), bloomed, append=True,
                  stats_for=["k"], bloom_for=["k"], bloom_bits=512)
    write_version(_ks(spark, 20, 10), bloomed, append=True)
    df, info = read_version_bloom_pruned(spark, bloomed, "k",
                                         [15, 25, 1000], detail=True)
    assert sorted(r["k"] for r in df.collect()) == [15, 25]
    assert scanned(df) == planned(bloomed, {"probe": "k:15,25,1000"}) \
        == {"v=000002", "v=000003"}
    assert info == {"missed": 1, "scanned": 2, "unknown": 0}


def test_every_reader_refuses_an_unpublished_version(spark, tmp_path):
    """One resolve-and-read prologue: an explicit version with no
    manifest raises read_version's "not published" error from every
    reader, aggregate and the mr4ver front door, never a raw errno."""
    from mapreduce_4_spark.sources.pyds import Mr4VersionedDataSource
    from mapreduce_4_spark.sources.versioned import (
        count_version,
        minmax_version,
        read_version_bloom_pruned,
        read_version_pruned,
        sum_version,
    )

    tdir = str(tmp_path / "t")
    _chain(spark, tdir)
    for read in (
            lambda: read_version(spark, tdir, version=9),
            lambda: read_version_pruned(spark, tdir, {"p": [1]}, version=9),
            lambda: read_version_stats_pruned(spark, tdir, "k", lower=1,
                                              version=9),
            lambda: read_version_bloom_pruned(spark, tdir, "k", [1],
                                              version=9),
            lambda: count_version(None, tdir, version=9),
            lambda: sum_version(None, tdir, "k", version=9),
            lambda: minmax_version(None, tdir, "k", version=9),
            lambda: Mr4VersionedDataSource(
                options={"path": tdir, "version": "9"}).schema()):
        with pytest.raises(FileNotFoundError,
                           match="version 9 not published"):
            read()
