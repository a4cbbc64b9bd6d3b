"""Read golden test: every read path of the versioned-table format
returns exactly the rows, schema, aggregate values and dir tallies
recorded in ``tests/read_golden.json``.

The script builds six tiny tables — a plain stats+bloom chain whose
first dir carries stats but no bloom, a hive-partitioned chain, a
chain under a deletion vector, a schema-evolved chain, a bucketed
snapshot and a legacy manifest (no ``dir_rows``, 2-element stats) —
and runs every reader and metadata aggregate against each:
``read_version`` (latest and time travel), ``read_version_pruned``,
``read_version_stats_pruned`` (single column and ``where=``),
``read_version_bloom_pruned(detail=True)``,
``count/sum/avg/minmax_version`` (bounded, unbounded, ``count_col``,
``spark=None``) and ``format("mr4ver")`` loads with ``where=`` and
``probe=``.

Recorded per case: a digest of the sorted rows plus their count, the
schema (name, type, nullability), the chain dirs the read scanned
(``inputFiles()`` for Spark reads, ``partitions()`` for the mr4ver
reader), and for aggregates the value and detail tallies. A case that
raises records the exception class and its message with the table
root normalised.

Re-record (only when a read change is intended and justified):

    python -m tests.test_read_golden --record
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

from pyspark.sql import functions as F

from mapreduce_4_spark.sources import versioned as vt

GOLDEN = os.path.join(os.path.dirname(__file__), "read_golden.json")

_DIR_RE = re.compile(r"/(v=\d{6})/")
_BLOOM_BITS = 256


def _rows(spark, lo, hi, n=True, part=False, null_every=0):
    cols = [F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("s")]
    if n:
        val = F.col("id") * 7
        if null_every:
            val = F.when(F.col("id") % null_every == 0, None).otherwise(val)
        cols.append(val.cast("bigint").alias("n"))
    if part:
        cols.append((F.col("id") % 3).alias("p"))
    return spark.range(lo, hi).select(*cols).coalesce(1)


def _dirs(paths) -> list[str]:
    return sorted({m.group(1) for p in paths if p
                   for m in _DIR_RE.finditer(p)})


def _frame(df) -> dict:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return {
        "rows": len(rows),
        "digest": hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16],
        "schema": [[f.name, f.dataType.simpleString(), f.nullable]
                   for f in df.schema.fields],
        "dirs": _dirs(df.inputFiles()),
    }


def _value(v):
    """JSON-stable aggregate value: tuples become lists, floats keep
    their repr (bit-exact)."""
    if isinstance(v, tuple):
        return [_value(x) for x in v]
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return {k: _value(x) for k, x in v.items()}
    return v


def _case(root: str, fn) -> dict:
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 — the error IS the recording
        return {"error": type(e).__name__,
                "msg": str(e).replace(root, "<root>").split("\n")[0][:160]}
    if isinstance(out, tuple) and len(out) == 2 \
            and hasattr(out[0], "collect"):
        return {**_frame(out[0]), "detail": _value(out[1])}
    if hasattr(out, "collect"):
        return _frame(out)
    if isinstance(out, dict):  # an mr4ver load, already framed
        return out
    if isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict):
        return {"value": _value(out[0]), "detail": _value(out[1])}
    return {"value": _value(out)}


def _mr4ver(spark, table: str, opts: dict) -> dict:
    """A front-door load: the rows it returns and the chain dirs its
    planner kept (``Mr4VersionedReader.partitions()``)."""
    from mapreduce_4_spark.sources.pyds import Mr4VersionedReader

    reader = spark.read.format("mr4ver")
    for k, v in opts.items():
        reader = reader.option(k, v)
    out = _frame(reader.load(table))
    m = vt.read_manifest(table, vt.latest_version(table))
    planner = Mr4VersionedReader(table, m, vt._scan_schema(m),
                                 {k.lower(): v for k, v in opts.items()})
    out["dirs"] = _dirs(getattr(p, "path", None)
                        for p in planner.partitions())
    return out


def _battery(spark, root: str, t: str, col: str, rng: tuple,
             where: dict, probe: list, mr4_where: str,
             mr4_probe: str) -> dict:
    """Every reader and aggregate once against table ``t``; ``col`` is
    the aggregate column, ``rng`` a bounded range on k, ``where`` a
    multi-column box, ``probe`` point-lookup values on k (``probe[1:]``
    lies outside the first dir's [min, max])."""
    lo, hi = rng
    cases = {
        "read_version": lambda: vt.read_version(spark, t),
        "read_version.v1": lambda: vt.read_version(spark, t, version=1),
        "read_version_pruned": lambda: vt.read_version_pruned(
            spark, t, {"p": [1, 5]}),
        "stats_pruned.col": lambda: vt.read_version_stats_pruned(
            spark, t, col="k", lower=lo, upper=hi),
        "stats_pruned.open": lambda: vt.read_version_stats_pruned(
            spark, t, col="k", upper=lo),
        "stats_pruned.where": lambda: vt.read_version_stats_pruned(
            spark, t, where=where),
        "bloom_pruned": lambda: vt.read_version_bloom_pruned(
            spark, t, "k", probe, detail=True),
        "bloom_pruned.window": lambda: vt.read_version_bloom_pruned(
            spark, t, "k", probe[1:], detail=True),
        "bloom_pruned.nulls": lambda: vt.read_version_bloom_pruned(
            spark, t, "k", [None], detail=True),
        "count": lambda: vt.count_version(spark, t, detail=True),
        "count.bounded": lambda: vt.count_version(
            spark, t, "k", lower=lo, upper=hi, detail=True),
        "count.where": lambda: vt.count_version(
            spark, t, where=where, detail=True),
        "count.count_col": lambda: vt.count_version(
            spark, t, count_col=col, detail=True),
        "count.count_col_bounded": lambda: vt.count_version(
            spark, t, "k", lower=lo, upper=hi, count_col=col, detail=True),
        "count.meta_only": lambda: vt.count_version(
            None, t, "k", lower=lo, upper=hi, detail=True),
        "count.meta_only_where": lambda: vt.count_version(
            None, t, where=where, detail=True),
        "count.v1": lambda: vt.count_version(
            spark, t, "k", lower=lo, upper=hi, version=1, detail=True),
        "sum": lambda: vt.sum_version(spark, t, col, detail=True),
        "sum.bounded": lambda: vt.sum_version(
            spark, t, col, where={"k": rng}, detail=True),
        "sum.where": lambda: vt.sum_version(
            spark, t, col, where=where, detail=True),
        "sum.meta_only": lambda: vt.sum_version(None, t, col, detail=True),
        "avg": lambda: vt.avg_version(spark, t, col, detail=True),
        "avg.bounded": lambda: vt.avg_version(
            spark, t, col, lower=None, upper=None, where={"k": rng},
            detail=True),
        "minmax": lambda: vt.minmax_version(spark, t, col),
        "minmax.k": lambda: vt.minmax_version(spark, t, "k"),
        "minmax.meta_only": lambda: vt.minmax_version(None, t, col),
        "mr4ver": lambda: _mr4ver(spark, t, {}),
        "mr4ver.where": lambda: _mr4ver(spark, t, {"where": mr4_where}),
        "mr4ver.probe": lambda: _mr4ver(spark, t, {"probe": mr4_probe}),
        "mr4ver.probe_window": lambda: _mr4ver(
            spark, t, {"probe": "k:" + ",".join(map(str, probe[1:]))}),
        "mr4ver.columns_where": lambda: _mr4ver(
            spark, t, {"where": mr4_where, "columns": "s"}),
    }
    return {name: _case(root, fn) for name, fn in cases.items()}


def drive(spark, root: str) -> dict:
    """Build the six tables and run the battery on each."""
    from mapreduce_4_spark.sources.pyds import register_versioned_source

    register_versioned_source(spark)
    out = {}
    std = dict(col="n", rng=(12, 24), where={"k": (5, 25), "n": (100, None)},
               probe=[3, 15, 1000], mr4_where="k:12:24",
               mr4_probe="k:3,15,1000")

    # plain chain: dir 1 carries stats (with nulls in n) but no bloom,
    # dirs 2-3 stats + bloom, dir 4 overlaps dir 2's window
    a = os.path.join(root, "plain")
    vt.write_version(_rows(spark, 0, 10, null_every=4), a, append=True,
                     stats_for=["k", "n"])
    vt.write_version(_rows(spark, 10, 20), a, append=True,
                     stats_for=["k", "n"], bloom_for=["k"],
                     bloom_bits=_BLOOM_BITS)
    vt.write_version(_rows(spark, 20, 30), a, append=True)
    vt.write_version(_rows(spark, 14, 18), a, append=True)
    out["plain"] = _battery(spark, root, a, **std)

    # hive-partitioned chain, stats on k from the first append on
    b = os.path.join(root, "partitioned")
    for i, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30))):
        vt.write_version(_rows(spark, lo, hi, part=True), b, append=True,
                         partition_by=["p"],
                         stats_for=["k", "n"] if i == 0 else None)
    out["partitioned"] = _battery(
        spark, root, b, **{**std, "mr4_where": "k:12:24;p:1:1"})

    # deletion vector over a stats+bloom chain
    c = os.path.join(root, "dv")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        vt.write_version(_rows(spark, lo, hi), c, append=True,
                         stats_for=["k", "n"], bloom_for=["k"],
                         bloom_bits=_BLOOM_BITS)
    vt.delete_version_dv(spark, c, keys=[3, 15, 16], key="k")
    out["dv"] = _battery(spark, root, c, **std)

    # schema-evolved chain: n arrives with the second append (the first
    # dir's backfilled stats prove it all-null for n)
    d = os.path.join(root, "evolved")
    vt.write_version(_rows(spark, 0, 10, n=False), d, append=True,
                     stats_for=["k"])
    vt.write_version(_rows(spark, 10, 20), d, append=True,
                     stats_for=["k", "n"])
    out["evolved"] = _battery(
        spark, root, d, **{**std, "where": {"n": (100, 120)},
                           "mr4_where": "n:100:120"})

    # bucketed snapshot (one dir, a catalog table)
    e = os.path.join(root, "bucketed")
    vt.write_version(_rows(spark, 0, 30), e, bucket_by=["k"], n_buckets=2,
                     stats_for=["k", "n"])
    out["bucketed"] = _battery(spark, root, e, **std)

    # legacy manifest: the latest version rewritten without dir_rows and
    # with 2-element stats
    f = os.path.join(root, "legacy")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        vt.write_version(_rows(spark, lo, hi), f, append=True,
                         stats_for=["k", "n"], bloom_for=["k"],
                         bloom_bits=_BLOOM_BITS)
    mpath = vt._manifest_path(f, 3)
    m = vt.read_manifest(f, 3)
    del m["dir_rows"]
    m["col_stats"] = {d: {c: ent[:2] for c, ent in s.items()}
                      for d, s in m["col_stats"].items()}
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    out["legacy"] = _battery(spark, root, f, **std)
    return out


def test_every_read_path_returns_the_recorded_answer(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    with tempfile.TemporaryDirectory() as root:
        got = json.loads(json.dumps(drive(spark, root)))
    assert sorted(got) == sorted(want)
    for t in want:
        assert sorted(got[t]) == sorted(want[t]), t
        for case in want[t]:
            assert got[t][case] == want[t][case], f"{t} {case}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    from mapreduce_4_spark.session import get_spark

    spark = get_spark("read-golden-record")
    with tempfile.TemporaryDirectory() as root:
        rec = drive(spark, root)
    with open(GOLDEN, "w") as f:
        # one case per line: diffs point at the reader that moved
        f.write("{\n" + ",\n".join(
            f'"{t}": {{\n' + ",\n".join(
                f'  "{c}": {json.dumps(v, sort_keys=True)}'
                for c, v in sorted(cases.items())) + "}"
            for t, cases in sorted(rec.items())) + "\n}\n")
    spark.stop()
