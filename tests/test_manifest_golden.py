"""Manifest golden test: every commit path of the versioned-table format
publishes exactly the manifest (and returns exactly the tally) recorded
in ``tests/manifest_golden.json``.

The script drives a few tiny tables through every publish path —
``write_version`` (full, append with and without explicit
``stats_for``/``bloom_for``, partitioned append, schema-evolving
append, clustered base), ``write_version_concurrent`` (append and
replace), a ``format("mr4ver")`` batch write (``commit_staged_dir``),
``analyze_table``, the six copy-on-write DML functions,
``delete_version_dv``, ``restore_version`` and ``compact_tail`` — and
compares each published manifest field by field with the recording.

Per-commit randomness is normalised before comparing: ``committed_at``
and ``nonce`` are shape-checked and dropped, and ``_staged/<nonce>`` /
``_dv/<nonce>`` names are replaced by their order of appearance in the
table's version sequence.

Re-record (only when a manifest change is intended and justified):

    python -m tests.test_manifest_golden --record
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

from pyspark.sql import functions as F

from mapreduce_4_spark.sources import versioned as vt

GOLDEN = os.path.join(os.path.dirname(__file__), "manifest_golden.json")

_NONCE_DIR_RE = re.compile(r"(_staged|_dv)/[0-9a-f]{12}")
_BLOOM_BITS = 256


def _rows(spark, lo, hi, with_n=False, part=False):
    cols = [F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("s")]
    if part:
        cols.append((F.col("id") % 3).alias("p"))
    if with_n:
        cols.append((F.col("id") * 7).alias("n"))
    return spark.range(lo, hi).select(*cols).coalesce(1)


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


def _record(table_dir: str, returns: list) -> dict:
    """The table's manifests in version order plus the step returns,
    with per-commit randomness normalised (see the module docstring)."""
    manifests = []
    for v in vt.list_versions(table_dir):
        m = vt.read_manifest(table_dir, v)
        assert isinstance(m.pop("committed_at"), float)
        assert re.fullmatch(r"[0-9a-f]{12}", m.pop("nonce"))
        manifests.append(m)
    seen: dict[str, str] = {}

    def _sub(m):
        name = m.group(0)
        if name not in seen:
            seen[name] = f"{m.group(1)}/#{len(seen) + 1}"
        return seen[name]

    text = json.dumps({"manifests": manifests, "returns": returns},
                      sort_keys=True)
    return json.loads(_NONCE_DIR_RE.sub(_sub, text))


def _tally(ret):
    return list(ret) if isinstance(ret, tuple) else ret


def drive(spark, root: str) -> dict:
    """Run every commit path once; returns {table: {"returns", "manifests"}}."""
    from mapreduce_4_spark.sources.pyds import register_versioned_source

    register_versioned_source(spark)
    out = {}

    # A: plain chain with stats + bloom, every mutation verb
    a = os.path.join(root, "a")
    steps = []

    def step(name, ret):
        steps.append([name, _tally(ret)])

    step("write_version.full", vt.write_version(
        _rows(spark, 0, 10), a, stats_for=["k"], bloom_for=["k"],
        bloom_bits=_BLOOM_BITS))
    step("write_version.append_inherit",
         vt.write_version(_rows(spark, 10, 20), a, append=True))
    step("write_version.append_explicit", vt.write_version(
        _rows(spark, 20, 30), a, append=True, stats_for=["k"],
        bloom_for=["k"], bloom_bits=_BLOOM_BITS))
    step("write_version.append_evolve", vt.write_version(
        _rows(spark, 30, 40, with_n=True), a, append=True,
        stats_for=["k", "n"]))
    step("write_version_concurrent.append", vt.write_version_concurrent(
        _rows(spark, 40, 50, with_n=True), a, append=True))
    _rows(spark, 50, 60, with_n=True).write.format("mr4ver") \
        .mode("append").save(a)
    step("commit_staged_dir.append", vt.latest_version(a))
    step("analyze_table", vt.analyze_table(spark, a, detail=True))
    step("delete_version_pruned.keys", vt.delete_version_pruned(
        spark, a, keys=[3, 45], key="k", detail=True))
    step("delete_version_pruned.where", vt.delete_version_pruned(
        spark, a, where={"k": (10, 19)}, detail=True))
    step("update_version_pruned.keys", vt.update_version_pruned(
        spark, a, {"s": "u"}, keys=[21], key="k", detail=True))
    step("update_version_pruned.where", vt.update_version_pruned(
        spark, a, {"n": F.col("k") * 2}, where={"k": (30, 31)},
        detail=True))
    step("merge_version_pruned", vt.merge_version_pruned(
        spark, a, _rows(spark, 22, 23, with_n=True).unionByName(
            _rows(spark, 100, 101, with_n=True)), key="k", detail=True))
    step("delete_version_dv.keys", vt.delete_version_dv(
        spark, a, keys=[25, 52], key="k", detail=True))
    step("delete_version_dv.where", vt.delete_version_dv(
        spark, a, where={"k": (53, 54)}, detail=True))
    step("delete_version_joined", vt.delete_version_joined(
        spark, a, _keys(spark, [26]), "k", detail=True))
    step("update_version_joined", vt.update_version_joined(
        spark, a, {"s": "j"}, _keys(spark, [27]), "k", detail=True))
    step("merge_version_joined", vt.merge_version_joined(
        spark, a, _rows(spark, 28, 29, with_n=True).unionByName(
            _rows(spark, 101, 102, with_n=True)), "k", detail=True))
    step("compact_tail.dv_tail", vt.compact_tail(spark, a, keep_base=1))
    step("restore_version", vt.restore_version(a, 5))
    step("compact_tail.evolved_tail",
         vt.compact_tail(spark, a, keep_base=1))
    out["a"] = _record(a, steps)

    # B: hive-partitioned append chain (dir_parts carry)
    b = os.path.join(root, "b")
    steps = []
    for i, (lo, hi) in enumerate(((0, 9), (9, 18), (18, 27))):
        step(f"write_version.append_partitioned.{i}", vt.write_version(
            _rows(spark, lo, hi, part=True), b, append=True,
            partition_by=["p"], stats_for=["k"] if i == 0 else None))
    step("delete_version_pruned.partitioned", vt.delete_version_pruned(
        spark, b, keys=[10], key="k", detail=True))
    step("delete_version_dv.partitioned", vt.delete_version_dv(
        spark, b, keys=[20], key="k", detail=True))
    step("compact_tail.partitioned",
         vt.compact_tail(spark, b, keep_base=1))
    step("write_version_concurrent.append_partitioned",
         vt.write_version_concurrent(
             _rows(spark, 27, 30, part=True), b, append=True,
             partition_by=["p"]))
    out["b"] = _record(b, steps)

    # C: sort_by base taking appends (recorded discipline carried)
    c = os.path.join(root, "c")
    steps = []
    step("write_version.sorted", vt.write_version(
        _rows(spark, 0, 10), c, sort_by=["k"], n_files=2,
        stats_for=["k"]))
    step("write_version.append_sorted",
         vt.write_version(_rows(spark, 10, 20), c, append=True))
    step("write_version_concurrent.append_sorted",
         vt.write_version_concurrent(_rows(spark, 20, 30), c, append=True))
    step("update_version_pruned.clustered", vt.update_version_pruned(
        spark, c, {"s": "x"}, keys=[12], key="k", detail=True))
    step("compact_tail.clustered", vt.compact_tail(spark, c, keep_base=1))
    out["c"] = _record(c, steps)

    # D: z-ordered base, concurrent replace, delete-everything
    d = os.path.join(root, "d")
    steps = []
    step("write_version.zorder", vt.write_version(
        _rows(spark, 0, 10, with_n=True), d, zorder_by=["k", "n"],
        zorder_bits=4, n_files=2))
    step("write_version.append_zorder",
         vt.write_version(_rows(spark, 10, 20, with_n=True), d,
                          append=True))
    step("write_version_concurrent.replace", vt.write_version_concurrent(
        _rows(spark, 0, 5, with_n=True), d, stats_for=["k"]))
    step("write_version_concurrent.append_stats",
         vt.write_version_concurrent(_rows(spark, 5, 9, with_n=True), d,
                                     append=True))
    step("delete_version_pruned.everything", vt.delete_version_pruned(
        spark, d, where={"k": (None, 1000)}, detail=True))
    out["d"] = _record(d, steps)
    return out


def test_every_commit_path_publishes_the_recorded_manifest(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    with tempfile.TemporaryDirectory() as root:
        got = json.loads(json.dumps(drive(spark, root)))
    assert sorted(got) == sorted(want)
    for t in want:
        assert got[t]["returns"] == want[t]["returns"], t
        assert len(got[t]["manifests"]) == len(want[t]["manifests"]), t
        for i, (g, w) in enumerate(zip(got[t]["manifests"],
                                       want[t]["manifests"])):
            assert g == w, f"table {t} version {i + 1}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    from mapreduce_4_spark.session import get_spark

    spark = get_spark("manifest-golden-record")
    with tempfile.TemporaryDirectory() as root:
        rec = drive(spark, root)
    with open(GOLDEN, "w") as f:
        # one manifest per line: diffs point at the commit that moved
        f.write("{\n" + ",\n".join(
            f'"{t}": {{"returns": {json.dumps(r["returns"])},\n'
            ' "manifests": [\n' + ",\n".join(
                json.dumps(m, sort_keys=True) for m in r["manifests"])
            + "]}" for t, r in sorted(rec.items())) + "\n}\n")
    spark.stop()
