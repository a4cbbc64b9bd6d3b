"""Measure the headline relational tier's fact-size scaling (round-13
verdict ask #2 — the q1/q5/join_lps twin of the dedup family's 10x
probes, ab_simhash_*_10x and kmeans_scale_probe).

The plan-shape claims (PLANS.md): q1 is one map-side-combined
aggregate over lineitem (wall ~ linear in fact rows); q5 is a star
join whose dims broadcast, so the fact side never shuffles for the
joins and the only fact-sized exchange is the final group-by; join_lps
broadcasts part+supplier into a fact scan. All three should therefore
scale ~linearly when the FACT tables grow 10x with dims fixed — this
probe measures that slope instead of asserting it.

Method: the sf fact tables (lineitem, orders) are replicated 10x with
l_orderkey/o_orderkey shifted per copy (join keys to the dims are
untouched, so every copy joins exactly like the original and the
result cardinality scales with the copies); both arms are written to
fresh parquet first so Catalyst sizes each input from its own file
stats (the SCALE.md Catalyst-size-estimate lesson: unioned in-memory
plans would defeat the dims' auto-broadcast on the 10x arm). Timing is
bench.py's min-of-N noop-sink discipline.

Usage: python scripts/relational_scale_probe.py [factor] [runs]
Writes one JSON line to stdout; record the table in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ["q1_pricing_summary", "q5_revenue_by_nation",
           "join_lineitem_part_supplier"]
#: dims the three queries touch (copied as-is into both arms)
DIMS = ["customer", "supplier", "part", "nation", "region"]


def _replicate(spark, name: str, key: str, factor: int, offset: int):
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources import load_table

    base = load_table(spark, SF_DIR, name)
    out = None
    for i in range(factor):
        c = base.withColumn(key, F.col(key) + F.lit(i * offset))
        out = c if out is None else out.unionAll(c)
    return out


def _build_arm(spark, td: str, factor: int) -> str:
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources import load_table

    arm = os.path.join(td, f"x{factor}")
    os.makedirs(arm, exist_ok=True)
    for d in DIMS:
        shutil.copy(f"{SF_DIR}/{d}.parquet", f"{arm}/{d}.parquet")
    hi = load_table(spark, SF_DIR, "orders").agg(
        F.max("o_orderkey")).first()[0]
    offset = 10 ** (len(str(int(hi))) + 1)  # clears the key space
    _replicate(spark, "lineitem", "l_orderkey", factor, offset) \
        .write.parquet(f"{arm}/lineitem.parquet")
    _replicate(spark, "orders", "o_orderkey", factor, offset) \
        .write.parquet(f"{arm}/orders.parquet")
    return arm


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    import bench
    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.session import get_spark

    spark = get_spark("relational-scale-probe")
    td = tempfile.mkdtemp(prefix="rel_scale_")
    out: dict = {"factor": factor, "runs": runs, "sf_dir": SF_DIR,
                 "queries": {}}
    t0 = time.time()
    snap0 = bench.host_snapshot()  # BEFORE the builds + timed runs —
    # telemetry must span the measurement, not a post-run instant
    try:
        arms = {1: _build_arm(spark, td, 1),
                factor: _build_arm(spark, td, factor)}
        out["rows_lineitem"] = {
            str(f): spark.read.parquet(f"{arm}/lineitem.parquet").count()
            for f, arm in arms.items()}
        for name in QUERIES:
            spec = REGISTRY[name]
            times = {}
            for f, arm in arms.items():
                timings: dict = {}
                bench._timed(timings, f"{name}@x{f}",
                             bench._noop(spec.builder(spark, arm)))
                times[str(f)] = timings[f"{name}@x{f}"]
            slope = round(times[str(factor)] / times["1"], 2)
            out["queries"][name] = {**times, "slope": slope}
        out["host"] = bench.host_telemetry(
            snap0, bench.host_snapshot(), None)
        out["wall_sec"] = round(time.time() - t0, 1)
    finally:
        shutil.rmtree(td, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
