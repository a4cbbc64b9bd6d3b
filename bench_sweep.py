#!/usr/bin/env python
"""Full-registry timing sweep: every registered query, warmed then timed
with bench.py's shared ``_timed`` discipline (min of N runs), at
$SPARK_GRAFT_SF_DIR. Prints one JSON line
{"queries": {name: sec, ...}, "raw_runs": {...}, "runs": N, "sf": ...}.

bench.py is the stable round-over-round headline; THIS is the outlier
finder — run it after structural changes to catch regressions in the
long tail the headline set doesn't cover (it is how the all-pairs
Jaccard, blocked-ER Levenshtein, and lambda-retokenize blowups were
found). Slowest queries print to stderr as they finish.
"""

from __future__ import annotations

import json
import os
import sys

import bench

BUDGET_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "SWEEP_BUDGET.json")


def check_budget(timings: dict[str, float]) -> list[str]:
    """Regression gate: compare a sweep against the checked-in per-query
    budget (3x a known-good sweep min, 1.5s floor — SWEEP_BUDGET.json).
    Returns breach descriptions; queries without a budget entry (new
    this round) only warn, so adding queries is never a failure."""
    try:
        with open(BUDGET_FILE) as f:
            budget = json.load(f)["budget_sec"]
    except FileNotFoundError:
        print("# no SWEEP_BUDGET.json — gate skipped", file=sys.stderr)
        return []
    breaches = []
    for name, sec in timings.items():
        cap = budget.get(name)
        if cap is None:
            print(f"# NEW (no budget yet): {name} {sec:.2f}s", file=sys.stderr)
        elif sec > cap:
            breaches.append(f"{name}: {sec:.2f}s > budget {cap:.2f}s")
    return breaches


def refresh_budget(sweep_json_path: str, floor: float = 1.5,
                   factor: float = 3.0) -> None:
    """Rewrite SWEEP_BUDGET.json from a known-good sweep: budget =
    max(factor x min-of-N, floor) per query. The source note is derived
    from the ACTUAL input file and its query count in the same write —
    the r8 verdict caught a hand-maintained note describing a previous
    registry size, so the note is now generated, never edited."""
    with open(sweep_json_path) as f:
        sweep = json.load(f)
    queries = sweep["queries"]
    payload = {
        "budget_sec": {
            name: round(max(factor * sec, floor), 2)
            for name, sec in sorted(queries.items())
        },
        "rule": f"per-query wall-clock budget at sf0.1 = max({factor:g} x "
                f"sweep min-of-3, {floor}s floor); regenerate with "
                "bench_sweep.refresh_budget(<sweep json>) after "
                "intentional perf changes",
        "source": f"{os.path.basename(sweep_json_path)} "
                  f"(full {len(queries)}-query registry sweep)",
    }
    with open(BUDGET_FILE, "w") as f:
        json.dump(payload, f, indent=2)
        f.write("\n")


def main() -> None:
    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.session import codegen_counters, get_spark

    spark = get_spark("mapreduce_4_spark-sweep")
    spark.read.parquet(f"{bench.SF_DIR}/region.parquet").count()

    snap0 = bench.host_snapshot()
    codegen0 = codegen_counters(spark)
    timings: dict[str, float] = {}
    for name, spec in REGISTRY.items():
        bench._timed(timings, name,
                     bench._noop(spec.builder(spark, bench.SF_DIR)))
    # the registry pass's Janino compilations, generated classes, JIT ms
    # and Metaspace growth: the codegen working set of every query. The
    # compilations inside timed runs should be 0; more means the timings
    # include recompiles (bench._CODEGEN)
    codegen = codegen_counters(spark, since=codegen0)
    codegen["timed_compilations"] = sum(
        bench._CODEGEN[n]["compilations"] for n in timings)
    # calibration arms into a SEPARATE dict: they ride raw_runs and
    # host.calib_scatter (the data-independent noise-floor ruler) but
    # must not enter the budget gate (r14 review finding: without
    # this, every sweep artifact shipped with calib_scatter missing)
    calib_timings: dict[str, float] = {}
    bench._calibration(spark, calib_timings)

    # Breach retry, inside the same run: the sandbox has noisy
    # neighbors, and a contention spike lasting longer than one
    # min-of-N window shows up as a 3-10x outlier on whichever query it
    # happened to land on (observed: 0.21s -> 2.59s). A query that
    # breaches its budget is re-timed ONCE at the end of the sweep; the
    # reported value is the min of both passes, with the first-pass
    # value preserved under `first_pass` so nothing is hidden. A real
    # regression breaches both passes and still fails the gate; a
    # neighbor spike self-heals with no manual re-run or data merge.
    gate_sf = bench.SF_DIR.rstrip("/").endswith("sf0.1")
    first_pass: dict[str, float] = {}
    if gate_sf:
        retry_names = [b.split(":")[0] for b in check_budget(timings)]
        for name in retry_names:
            print(f"# breach retry: {name}", file=sys.stderr)
            first_raw = bench._RAW[name]
            retry: dict[str, float] = {}
            bench._timed(retry, name, bench._noop(
                REGISTRY[name].builder(spark, bench.SF_DIR)))
            # raw_runs keeps BOTH passes (first three = the breaching
            # pass) so the spike stays visible in the published JSON.
            bench._RAW[name] = first_raw + bench._RAW[name]
            first_pass[name] = timings[name]
            timings[name] = min(timings[name], retry[name])

    sf = bench.SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "queries": timings,
                "first_pass": first_pass,
                "raw_runs": bench._RAW,
                "runs": bench.N_RUNS,
                # same host-evidence record as bench.py (r13 ask #1):
                # a sweep riser on a busy host carries its own alibi
                "host": bench.host_telemetry(
                    snap0, bench.host_snapshot(),
                    bench._RAW.get(bench.CALIB)),
                "codegen": dict(codegen, cache_entries=int(spark.conf.get(
                    "spark.sql.codegen.cache.maxEntries"))),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )

    # The gate only makes sense at the budget's scale factor (sf0.1).
    if gate_sf:
        breaches = check_budget(timings)
        for b in breaches:
            print(f"# BUDGET BREACH: {b}", file=sys.stderr)
        if breaches:
            sys.exit(1)


if __name__ == "__main__":
    main()
