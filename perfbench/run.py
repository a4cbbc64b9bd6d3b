"""Seeded closed-loop benchmark of the ``mapreduce_4_spark`` package.

Run from the repository root::

    python3 perfbench/run.py --workload text --seed 1 --seconds 15 --trace 0

One client, one job in flight, Spark ``local[<cores / 2>]``. The run
generates (or reuses) the workload's inputs for the seed, sets up a
session, runs ``WARMUP_JOBS`` untimed jobs, then runs steady-state jobs
until ``--seconds`` of job time is spent, checking every job's output. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced jobs in the window, decomposes the job into
layers, reads Spark's stage counters and reports the per-layer metrics
plus the tracing overhead. A readable table goes to stderr; the last
line of stdout is one JSON object. ``perfbench/README.md`` describes the
workloads and metrics.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, before any heavy import

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes: input cache, per-run scratch, traces
WORK = os.path.join(ROOT, ".perfbench")
#: driver heap for local mode: enough for these inputs on a shared host
#: (the package default, 16g, is sized for a 32-core sweep)
DRIVER_MEM = "2g"
#: Spark task slots: half the cores this process may use, leaving the
#: rest to the driver thread, the JIT and GC threads and the Python
#: workers. In four interleaved pairs of ``text`` runs on one shared
#: 4-core host, local[2] held the median job between 3.7 and 5.2 s and
#: the run between 40 and 42 s; local[4] ranged 3.4-8.1 s and 44-65 s.
TASK_SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
#: input cache entries kept per workload (the least recently used go)
CACHE_KEEP = 4
#: layer measurements in a traced run; each layer's time is their median
PREFIX_REPS = 2
#: untimed jobs before the window: the cold job, then one more, because
#: the JVM keeps compiling through the first jobs (a steady TPC-H pass
#: still falls by a tenth from the second to the fourth)
WARMUP_JOBS = 2

END_TO_END = {
    "setup_s": "s", "job_p50_s": "s",
    "throughput_mb_s": "MB/s", "cpu_s_per_mb": "s/MB",
}
#: the registry's TPC-H-shaped queries that the ``tables`` workload runs:
#: aggregate, multi-way joins, an outer join, IN / EXISTS / NOT EXISTS
#: subqueries and a scalar subquery (README.md says why not all 22)
TPCH_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
    "q9_product_type_profit", "q13_customer_distribution", "q18_large_orders",
    "q21_sole_returner", "q22_idle_customers",
]
PER_LAYER = {
    "session.import_s": "s", "session.get_spark_s": "s", "session.first_job_s": "s",
    "sources.scan_s": "s", "sources.scan_tasks": "count",
    "functions.text_s": "s", "functions.tokens": "count",
    "aggregate.self_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_records": "count",
    "spark.spill_mb": "MB", "spark.fetch_wait_s": "s", "spark.agg_groups": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.task_skew": "ratio", "spark.tasks_failed": "count",
    "sinks.write_s": "s", "sinks.files_written": "count", "sinks.output_mb": "MB",
    "dedup.shingle_s": "s", "dedup.signature_s": "s", "dedup.band_s": "s",
    "dedup.candidates_s": "s", "dedup.verify_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.planted_recall": "ratio",
    "plans.build_s": "s",
    **{f"plans.{q}_s": "s" for q in TPCH_QUERIES},
    "versioned.append_s": "s", "versioned.read_pruned_s": "s",
    "versioned.read_full_s": "s", "versioned.count_meta_s": "s",
    "versioned.delete_s": "s", "versioned.merge_s": "s",
    "versioned.dirs_scanned_ratio": "ratio", "versioned.dirs_rewritten": "count",
    "trace.job_p50_s": "s", "trace.overhead_s": "s", "trace.layer_sum_ratio": "ratio",
    "jvm.peak_rss_mb": "MB", "failed_ratio": "ratio",
}


def _inputs(name: str, size: dict, seed: int) -> tuple[str, float]:
    """The cached input directory for (workload, seed, size), generated
    in a child process when missing; returns it with the generation time."""
    cache = os.path.join(WORK, "inputs")
    sizes = "_".join(str(v) for _, v in sorted(size.items()))
    path = os.path.join(cache, f"{name}-s{seed}-{sizes}")
    if os.path.exists(os.path.join(path, "DONE")):
        os.utime(path)
        return path, 0.0
    shutil.rmtree(path, ignore_errors=True)
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), name,
                    str(seed), json.dumps(size), path], check=True)
    gen_s = time.perf_counter() - t
    mine = sorted((e for e in os.listdir(cache) if e.startswith(name + "-s")),
                  key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for old in mine[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    return path, gen_s


def _isolate(run_dir: str) -> dict[str, str]:
    """Pin the run's resources; returns the extra session confs."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(TASK_SLOTS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


class Runner:
    """Runs, times and checks the jobs of one workload."""

    def __init__(self, wl, tracer) -> None:
        from perfbench.trace import jvm_pid

        self.wl, self.tracer = wl, tracer
        self.jvm = jvm_pid(wl.spark)
        self.attempted = self.failed = 0
        self.n = 0

    def one(self, traced: bool = False):
        """Run, check and discard one job. Returns (wall s, cpu s) or
        None if the job raised or its output failed the check."""
        from perfbench.trace import process_tree_cpu_s

        wl, n = self.wl, self.n
        self.n += 1
        self.attempted += 1
        out = None
        try:
            cpu0 = process_tree_cpu_s()
            t = time.perf_counter()
            if traced:
                self.tracer.trace_id = f"job-{n}"
                with self.tracer.span("job"):
                    out = wl.traced_job(n, self.tracer)
            else:
                out = wl.job(n)
            wall = time.perf_counter() - t
            cpu = process_tree_cpu_s() - cpu0
            wl.check(out)
            return wall, cpu
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        finally:
            wl.discard(out)

    def window(self, seconds: float, counters=None):
        """Jobs until ``seconds`` of job wall time. With ``counters``,
        plain and traced jobs alternate in ABBA order (so warm-up drift
        cancels in the tracing overhead when the window holds four or
        more), at least one of each, each traced job under its own Spark
        job group. Returns the (wall, cpu)
        of the plain jobs and of the traced ones."""
        plain, traced = [], []
        spent = 0.0
        while spent < seconds or not plain or (counters and not traced):
            trace = counters is not None and (len(plain) + len(traced)) % 4 in (1, 2)
            if trace:
                group = f"job-{self.n}"
                with counters.group(group):
                    r = self.one(traced=True)
                counters.record(group)
            else:
                r = self.one()
            if r is None:
                if self.failed > 3:
                    break  # failing; stop rather than spin
                continue
            (traced if trace else plain).append(r)
            spent += r[0]
        return plain, traced


def end_to_end(runner: Runner, setup_s: float, seconds: float) -> dict:
    """The end-to-end metrics; a time with no successful job to measure
    reads None (JSON null), never a flattering 0."""
    wl = runner.wl
    t = time.perf_counter()
    for _ in range(WARMUP_JOBS):
        runner.one()
    t1 = time.perf_counter()
    steady, _ = runner.window(seconds)
    print(f"# phases: warm-up {t1 - t:.2f} s, window {time.perf_counter() - t1:.2f} s",
          file=sys.stderr)
    walls = [w for w, _ in steady]
    mb = wl.declared_mb * len(steady)
    metrics = {
        "setup_s": setup_s,
        "job_p50_s": statistics.median(walls) if walls else None,
        "throughput_mb_s": mb / sum(walls) if walls else None,
        "cpu_s_per_mb": sum(c for _, c in steady) / mb if walls else None,
    }
    print(f"# {wl.name}: job_p50_s over {len(steady)} steady jobs; walls "
          + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
    for name, part in wl.part_walls.items():
        print(f"# part {name}: walls of every job, warm-up first "
              + " ".join(f"{w:.3f}" for w in part), file=sys.stderr)
    return metrics


def per_layer(runner: Runner, session: dict[str, float], seconds: float) -> dict[str, float]:
    from perfbench.trace import SparkCounters, peak_rss_mb

    wl, tracer = runner.wl, runner.tracer
    out = {m: 0.0 for m in PER_LAYER}
    out.update(session)
    first = runner.one()  # cold job, untraced
    out["session.first_job_s"] = first[0] if first else None
    for _ in range(WARMUP_JOBS - 1):
        runner.one()
    counters = SparkCounters(wl.spark)
    plain, traced = runner.window(seconds, counters)
    ids = list(counters.recorded)
    if traced:
        out["trace.job_p50_s"] = statistics.median(w for w, _ in traced)
        out["trace.overhead_s"] = out["trace.job_p50_s"] - statistics.median(
            w for w, _ in plain)
        for name in {s.name for s in tracer.spans if s.trace_id in ids}:
            if f"{name}_s" in out:
                out[f"{name}_s"] = tracer.median(name, ids)
        for m in counters.recorded[ids[0]]:
            out[m] = statistics.median(counters.recorded[i][m] for i in ids)
    # a layer two parts share reports the sum of their self times
    chains, isolated = wl.chains(), wl.isolated()
    reps = [f"layers-{r}" for r in range(PREFIX_REPS)]
    for r in reps:
        for c, chain in enumerate(chains):
            tracer.trace_id = f"{r}-chain{c}"
            for name, fn in chain:
                with tracer.span(name):
                    fn()
        tracer.trace_id = r
        for name, fn in isolated:
            fn(lambda: tracer.span(name))
    layers_s = 0.0
    for c, chain in enumerate(chains):
        prev = 0.0
        for name, _ in chain:
            cum = tracer.median(name, [f"{r}-chain{c}" for r in reps])
            out[name] += cum - prev
            prev = cum
        layers_s += prev
    for name, _ in isolated:
        own = tracer.median(name, reps)
        out[name] += own
        layers_s += own
    if wl.layer_sum and traced:
        # the word-count chain stops short of the isolated sink, so the
        # sum is an estimate made apart from the traced jobs it is
        # compared with
        out["trace.layer_sum_ratio"] = layers_s / out["trace.job_p50_s"]
    out.update(wl.counts)
    out["jvm.peak_rss_mb"] = peak_rss_mb(runner.jvm)
    out["failed_ratio"] = runner.failed / runner.attempted
    if out["dedup.candidate_pairs"]:
        out["dedup.verify_yield"] = out["dedup.verified_pairs"] / out["dedup.candidate_pairs"]
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_4_spark")):
        print(f"no mapreduce_4_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    tracer = Tracer()
    try:
        inputs, gen_s = _inputs(cls.name, cls.size, args.seed)
        confs = _isolate(run_dir)
        t = time.perf_counter()
        from mapreduce_4_spark.session import get_spark

        import_s = time.perf_counter() - t
        spark = get_spark("perfbench", extra_confs=confs)
        spark.range(1000).count()
        ready = time.perf_counter()
        session = {"session.import_s": import_s,
                   "session.get_spark_s": ready - t - import_s}
        runner = Runner(cls(spark, inputs, run_dir, args.seed), tracer)
        if args.trace:
            values, units = per_layer(runner, session, args.seconds), PER_LAYER
        else:
            values, units = end_to_end(runner, ready - _T0 - gen_s, args.seconds), END_TO_END
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if tracer.spans:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{cls.name}-s{args.seed}.jsonl"))
    for name, unit in units.items():
        v = values[name]
        print(f"{name:34s} {'-' if v is None else f'{v:.6f}':>14s} {unit}", file=sys.stderr)
    if "failed_ratio" not in units:
        print(f"{'failed_ratio':34s} {runner.failed / runner.attempted:14.6f} ratio",
              file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
