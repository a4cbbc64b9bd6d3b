#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink so the full plan
(scan -> compute -> all columns) executes without collect() driver
pressure — the same shape a cluster job has.

One warm pass runs every headline query once before any is timed; then
one timer (``_timed``) takes each arm's min of N warm runs. Every
reported number — ``value``, ``value_median``, ``value_first_run`` — is
a warm-pass number, and each arm's ``codegen_runs`` entry in the full
record says whether its timed runs compiled or JIT-compiled anything.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: repeats per timed query. The sandbox is shared, so single-shot wall
#: clocks drift 1.1-1.4x round-over-round from CPU contention alone;
#: the MIN of N runs estimates the contention-free cost of the physical
#: plan and makes round deltas attributable to code, not neighbors.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: per-run raw timings, reported alongside the min
_RAW: dict[str, list[float]] = {}

#: 1-minute loadavg sampled right BEFORE each timed run, parallel to
#: _RAW — the per-query contention record (full record only). When a
#: query's raws scatter 1.3x, this column says whether the host was
#: busy during exactly those samples.
_LOAD1: dict[str, list[float]] = {}

#: sub-second queries get extra timed runs (min-of-5): at <1 s a single
#: scheduler hiccup is a 20-40% swing, and two more samples sharpen the
#: min estimate where the noise floor is proportionally largest
#: (round-13 verdict ask #1 — q1 read 1.29x normalized in the driver
#: artifact while three builder runs of identical code read 0.89-0.99).
FAST_FLOOR_SEC = 1.0
FAST_EXTRA_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_FAST_EXTRA", "2"))

#: per-arm session.codegen_counters difference over the timed runs
#: (full record only). Nonzero compilations mean the arm's timings
#: include recompiles: the generated-class cache is thrashing.
_CODEGEN: dict[str, dict] = {}


def _codegen_reading(since: dict | None = None) -> dict | None:
    """session.codegen_counters of the active session (the difference
    from ``since`` when given); None without a session, as when the
    unit tests drive _timed with a fake arm."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    from mapreduce_4_spark.session import codegen_counters

    return codegen_counters(spark, since=since)


def _proc_stat_cpu() -> list[int] | None:
    """The aggregate 'cpu' jiffies line from /proc/stat (user nice
    system idle iowait irq softirq steal guest guest_nice), or None
    off-Linux."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    return [int(x) for x in line.split()[1:]]
    except OSError:
        pass
    return None


def host_snapshot() -> dict:
    """One host-telemetry sample: 1/5/15-min loadavg, the cumulative
    /proc/stat cpu jiffies, and CPU pressure (PSI avg10) when the
    kernel exposes it."""
    snap: dict = {"t": time.time()}
    try:
        snap["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        snap["loadavg"] = None
    snap["cpu_jiffies"] = _proc_stat_cpu()
    try:
        with open("/proc/pressure/cpu") as f:
            first = f.readline()  # "some avg10=X avg60=Y ..."
        snap["psi_cpu_avg10"] = float(first.split("avg10=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        snap["psi_cpu_avg10"] = None
    return snap


def host_telemetry(start: dict, end: dict,
                   calib_runs: list[float] | None) -> dict:
    """The bench artifact's host-evidence record (round-13 verdict ask
    #1): whether THIS run was measured on a quiet or a contended host,
    carried inside BENCH_r{N} itself so a driver-vs-builder normalized
    delta is explained by data, not narrative. busy/steal percentages
    are computed over the /proc/stat jiffies delta spanning the whole
    bench run; calib_scatter is [min, median, max] of the
    data-independent JVM calibration arm — scatter there is pure host
    noise (the plan cannot drift)."""
    out: dict = {
        "ncpu": os.cpu_count(),
        "load_start": start.get("loadavg"),
        "load_end": end.get("loadavg"),
        "psi_cpu_avg10_start": start.get("psi_cpu_avg10"),
        "psi_cpu_avg10_end": end.get("psi_cpu_avg10"),
        "span_sec": round(end["t"] - start["t"], 1),
    }
    s, e = start.get("cpu_jiffies"), end.get("cpu_jiffies")
    if s and e and len(e) >= 8 and len(s) >= 8:
        d = [b - a for a, b in zip(s, e)]
        total = sum(d)
        if total > 0:
            idle = d[3] + d[4]  # idle + iowait
            out["cpu_busy_pct"] = round(100.0 * (total - idle) / total, 1)
            out["steal_pct"] = round(100.0 * d[7] / total, 2)
    if calib_runs:
        r = sorted(calib_runs)
        out["calib_scatter"] = [r[0], r[len(r) // 2], r[-1]]
        out["calib_runs"] = len(r)
    return out

#: the calibration arm used as the machine-speed ruler
CALIB = "calib_jvm_hash"

#: headline set: one representative per operator family, weighted toward
#: the scale-critical paths (fact aggregation, star join, text explode,
#: LSH dedup, window, time bucketing).
HEADLINE = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "wordcount_per_doc",
    "join_lineitem_part_supplier",
    "top10_customers_by_revenue",
    "window_rank_orders",
    "rollup_lineitem_flags",
    "events_tumbling_1h",
    "top_bigrams",
    "dedup_exact_docs",
    "minhash_lsh_neardup",
    "similarity_bruteforce_topk",
]


def _noop(df):
    """The zero-argument arm that materializes ``df`` through the noop
    sink: the full plan executes with no collect() driver pressure."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def _timed(timings: dict[str, float], name: str, run,
           fast_extra: int = 0) -> None:
    """Warm-up + N_RUNS timed calls of the zero-argument ``run`` (a
    DataFrame arm passes ``_noop(df)``; a driver-side arm such as a
    metadata-only aggregate passes its own callable). Records the min
    (see N_RUNS note), keeps the raws in _RAW and the per-run loadavg in
    _LOAD1 under the same key. ``fast_extra``: up to that many EXTRA
    runs when the min is under FAST_FLOOR_SEC — min-of-5 where the
    relative noise floor is worst (headline + calib arms pass
    FAST_EXTRA_RUNS; ab_* arms stay min-of-3)."""
    run()
    mark = _codegen_reading()
    runs: list[float] = []
    loads: list[float] = []
    while len(runs) < N_RUNS or (
            fast_extra and len(runs) < N_RUNS + fast_extra
            and min(runs) < FAST_FLOOR_SEC):
        try:
            loads.append(round(os.getloadavg()[0], 2))
        except OSError:
            loads.append(-1.0)
        t0 = time.perf_counter()
        run()
        runs.append(round(time.perf_counter() - t0, 6))
    if mark:
        _CODEGEN[name] = _codegen_reading(since=mark)
    _RAW[name] = runs
    _LOAD1[name] = loads
    timings[name] = min(runs)
    print(f"# {name}: {timings[name]:.3f}s (runs: {runs})", file=sys.stderr)


def _ab_experiments(spark, timings: dict[str, float]) -> None:
    """A/B measurements beyond the registered queries, each pair timed
    in the same session on the same data:

    1. ANN crossover (``ab_bruteforce_topk_q200`` / ``ab_lsh_topk_q200``):
       brute-force vs hyperplane-LSH top-k at a 200-query load (vs the
       5-query headline entry), where bucketed candidate generation
       starts paying for its recall loss.
    2. Bucketed vs plain fact join (``ab_fact_join_*``): the same
       lineitem x orders equi-join with and without an exchange.
    3. Clustered vs plain selective scan (``ab_scan_*``): footer min/max
       skipping on a range-partitioned, sorted snapshot.
    4. Versioned-chain reads (``ab_chain_*``): full scan vs manifest
       stats pruning, and a metadata COUNT vs the pruned scan's count.
    5. SimHash banding at 10x docs (``ab_simhash_*``): chunk4 vs blocks6
       candidate volume.
    """
    from pyspark.sql import functions as F

    from mapreduce_4_spark.operators.similarity import brute_force_topk, lsh_topk
    from mapreduce_4_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    _timed(timings, "ab_bruteforce_topk_q200",
           _noop(brute_force_topk(emb, queries, k=10)))
    _timed(timings, "ab_lsh_topk_q200",
           _noop(lsh_topk(emb, queries, k=10, n_planes=8, dim=64)))

    # bucketed-vs-plain fact join: the same lineitem x orders equi-join,
    # once over plain parquet (two exchanges) and once over snapshots
    # bucketed on the join key (exchange-free SMJ; plan-asserted in
    # tests/test_plan_properties.py). The one-time bucketed write is paid
    # OUTSIDE the timing — that's the point: write once, never reshuffle.
    import shutil
    import tempfile

    from mapreduce_4_spark.sources.versioned import read_version, write_version

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    tmp = tempfile.mkdtemp(prefix="bench_bucketed_")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_version(li, f"{tmp}/li", bucket_by=["l_orderkey"], n_buckets=32)
        write_version(od, f"{tmp}/od", bucket_by=["o_orderkey"], n_buckets=32)
        bl = read_version(spark, f"{tmp}/li")
        bo = read_version(spark, f"{tmp}/od")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _timed(timings, "ab_fact_join_plain",
               _noop(li.join(od, li.l_orderkey == od.o_orderkey)))
        _timed(timings, "ab_fact_join_bucketed",
               _noop(bl.join(bo, bl.l_orderkey == bo.o_orderkey)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        shutil.rmtree(tmp, ignore_errors=True)

    # clustered-vs-plain selective scan: the same narrow user_id range
    # read from a plain snapshot (every file scanned) and from a
    # clustered one (range-partitioned + sorted on user_id, so parquet
    # min/max footer stats skip all but ~one file). The one-time sorted
    # write is paid OUTSIDE the timing, same logic as the bucketed join.
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    tmp2 = tempfile.mkdtemp(prefix="bench_clustered_")
    try:
        write_version(ev, f"{tmp2}/plain")
        write_version(ev, f"{tmp2}/sorted", sort_by=["user_id"], n_files=32)
        pl = read_version(spark, f"{tmp2}/plain")
        cl = read_version(spark, f"{tmp2}/sorted")
        lo = 1000
        in_range = (F.col("user_id") >= lo) & (F.col("user_id") < lo + 50)
        _timed(timings, "ab_scan_plain", _noop(pl.filter(in_range)))
        _timed(timings, "ab_scan_clustered", _noop(cl.filter(in_range)))
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)

    # manifest-stats dir skipping on an append chain: the same narrow
    # o_orderkey range read as a full chain scan + filter (every dir's
    # files listed and footer-read) and through
    # read_version_stats_pruned (whole dirs skipped from the manifest
    # alone). 24 dirs at local-FS latency keeps the absolute delta
    # modest — the term that scales is touched dirs (24 -> 1, one LIST
    # + footer GETs per dir on an object store); the arm pins the
    # mechanics and re-measures them every round.
    from mapreduce_4_spark.sources.versioned import read_version_stats_pruned

    od = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice")
    tmp2b = tempfile.mkdtemp(prefix="bench_statschain_")
    try:
        # sf0.1 orderkeys are DENSE in [0, 150000) — the previous
        # 6_000_000 bound left 23 of 24 slices EMPTY, so both chain
        # arms were timing near-empty scans (0.035s vs 0.033s parity in
        # BENCH_r<=10 is that artifact, not a real skipping read)
        okmax = 150_000

        step = okmax // 24
        for i in range(24):
            write_version(
                od.filter((F.col("o_orderkey") >= i * step)
                          & (F.col("o_orderkey") < (i + 1) * step))
                .coalesce(2),
                f"{tmp2b}/chain", append=True,
                stats_for=["o_orderkey"] if i == 0 else None,
            )
        lo2 = 12 * step + 100
        _timed(timings, "ab_chain_scan_full",
               _noop(read_version(spark, f"{tmp2b}/chain").filter(
                   (F.col("o_orderkey") >= lo2)
                   & (F.col("o_orderkey") <= lo2 + 2000))))
        _timed(timings, "ab_chain_stats_pruned",
               _noop(read_version_stats_pruned(
                   spark, f"{tmp2b}/chain", "o_orderkey",
                   lower=lo2, upper=lo2 + 2000)))
        # the metadata-aggregate tier on the same chain: a dir-aligned
        # 2-dir range COUNT answered from the manifest alone (spark
        # deliberately None — zero jobs, zero listings) vs the same
        # count through the pruned scan. The metadata side is flat in
        # corpus size AND chain length; the ratio here (~10^3x, see
        # SCALE.md probe) is the floor, not the ceiling.
        from mapreduce_4_spark.sources.versioned import count_version

        alo, ahi = 10 * step, 12 * step - 1
        n_meta = count_version(None, f"{tmp2b}/chain", "o_orderkey",
                               lower=alo, upper=ahi, detail=True)
        assert n_meta[1]["scanned"] == 0, n_meta
        _timed(timings, "ab_chain_count_meta",
               lambda: count_version(None, f"{tmp2b}/chain",
                                     "o_orderkey", lower=alo, upper=ahi))
        _timed(timings, "ab_chain_count_scan",
               lambda: read_version_stats_pruned(
                   spark, f"{tmp2b}/chain", "o_orderkey",
                   lower=alo, upper=ahi).count())
    finally:
        shutil.rmtree(tmp2b, ignore_errors=True)

    # G) SimHash banding dial at 10x docs: chunk4 (4 bands, 16-bit keys)
    # vs blocks6 (Manku 3-of-6: 20 bands, ~32-bit keys). Both lossless at
    # hamming<=3 and pinned to the same oracle; what differs is the
    # pre-verify candidate volume sum(df^2) per bucket, which grows
    # quadratically in corpus size for chunk4's 2^16-value buckets. The
    # 10x corpus is 10 deterministic copies, each perturbed with a
    # copy-distinct token so the copies are near- but not exact dups —
    # the regime where banding selectivity, not verify, dominates. This
    # arm puts a measured number on the SCALE.md dial (when does blocks6
    # overtake chunk4) instead of the r6-r7 folklore caveat.
    from mapreduce_4_spark.operators.dedup import simhash_near_pairs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs10 = None
    for i in range(10):
        c = docs.select(
            (F.col("doc_id") * 10 + F.lit(i)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copymark{i}")).alias("text"),
        )
        docs10 = c if docs10 is None else docs10.unionAll(c)
    _timed(timings, "ab_simhash_chunk4_10x",
           _noop(simhash_near_pairs(docs10, max_hamming=3, banding="chunk4")))
    _timed(timings, "ab_simhash_blocks6_10x",
           _noop(simhash_near_pairs(docs10, max_hamming=3, banding="blocks6")))


def _calibration(spark, timings: dict[str, float]) -> None:
    """Machine-speed calibration arms, excluded from the headline total.

    Round 9 found the whole headline drifting ~1.3-1.4x round-over-round
    with IDENTICAL plans, an idle machine, 0% CPU steal, and unchanged
    data — i.e. the HOST got slower, not the engine, but nothing in the
    bench output could prove it. These two data-independent,
    plan-trivial arms pin the sandbox's JVM compute and scan throughput
    each run: when headline queries and calibration drift by the same
    factor, the round delta is machine, not code; when they diverge,
    it's code. Compare `queries[x]/calib_jvm_hash` across rounds for a
    machine-normalized signal.
    """
    from pyspark.sql import functions as F

    # pure JVM compute: 2B xxhash64 evaluations, no input data
    # (bit_xor fold: overflow-free under ANSI, unlike sum of longs).
    # Sized to ~1s so the signal clears min-of-3 timing noise (~±40 ms);
    # 200M ran in 0.1s — inside the noise floor, useless as a ruler.
    _timed(timings, "calib_jvm_hash",
           _noop(spark.range(2_000_000_000).select(
               F.xxhash64("id").alias("h")
           ).agg(F.expr("bit_xor(h)").alias("s"))),
           fast_extra=FAST_EXTRA_RUNS)
    # parquet scan + decode of the biggest fixture table, trivial agg
    from mapreduce_4_spark.sources import load_table

    _timed(timings, "calib_scan_lineitem",
           _noop(load_table(spark, SF_DIR, "lineitem").agg(
               F.sum("l_quantity").alias("s"))),
           fast_extra=FAST_EXTRA_RUNS)
    # DATA-HEAVY scaling arm (round-15, r14 verdict ask #2): the
    # registered headline queries are sub-second at sf0.1 and dominated
    # by fixed per-query overhead, so their 8-vs-32-core ratios read ~1
    # and the driver's scaling probe misdiagnosed the harness as
    # core-blind (the env IS honored — session.py wires
    # $SPARK_GRAFT_CPUS into master and shuffle partitions). This arm
    # is the data-sized witness: 32 independent scan legs of lineitem
    # (one task each), 4x row replication per leg, a q1-shaped
    # long-cents product aggregate — ~32 parallel compute-bound tasks,
    # so wall clock MUST scale with cores (expected t8/t32 ~ 3-4x,
    # like calib_jvm_hash's 2.1x). Deterministic, data-derived, no
    # temp writes. Sum bound: |hv| <= 1e9/row x 2.4M rows x 32 legs
    # ~ 7.7e16 << 2^63 (ANSI-loud anyway).
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_extendedprice", "l_discount")
    leg = li.select(
        "l_extendedprice", "l_discount",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("_r"),
    )
    fact = None
    for _ in range(32):
        fact = leg if fact is None else fact.unionAll(leg)
    hv = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    _timed(timings, "calib_fact_scaleup",
           _noop(fact.agg(F.sum(hv).alias("s"))),
           fast_extra=FAST_EXTRA_RUNS)


def main() -> None:
    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.session import get_spark

    spark = get_spark("mapreduce_4_spark-bench")
    # warm the JVM + file index once with a trivial action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    snap0 = host_snapshot()
    # warm pass over the WHOLE headline before any arm is timed: it pays
    # plan compilation, whole-stage codegen, file-index costs AND the
    # HotSpot JIT of every generated class, which a long-lived cluster
    # session amortizes across thousands of queries. One warm-up per arm
    # is not enough — HotSpot keeps compiling an arm's fresh classes
    # through its first timed runs (seconds of JIT per arm, visible in
    # codegen_runs), so the timed runs would read cold-JIT time.
    arms = {name: _noop(REGISTRY[name].builder(spark, SF_DIR))
            for name in HEADLINE}
    for run in arms.values():
        run()
    timings: dict[str, float] = {}
    for name, run in arms.items():
        _timed(timings, name, run, fast_extra=FAST_EXTRA_RUNS)
    _calibration(spark, timings)
    _ab_experiments(spark, timings)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    host = host_telemetry(snap0, host_snapshot(), _RAW.get(CALIB))
    # the session's EFFECTIVE execution shape, carried inside the
    # artifact (round-15, r14 verdict ask #2): host.ncpu is the
    # machine's core count regardless of $SPARK_GRAFT_CPUS, so a
    # local[8] run used to look like a 32-core artifact and the
    # driver's scaling heuristic false-positived. master +
    # defaultParallelism + shuffle partitions make each record
    # self-describing.
    engine = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        # the generated-class cache size (session._BASE_CONFS): a
        # headline measured below its working set includes recompiles
        "codegen_cache_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }
    full, summary = build_records(timings, sf, _RAW, host=host,
                                  engine=engine)
    # stdout layout contract (round-10 verdict ask #2): the driver keeps
    # only a ~2 KB stdout TAIL, and BENCH_r09/r10 both came back
    # `parsed: null` because the single output line — raw_runs included —
    # overflowed it, losing the official per-query record two rounds
    # running. So: the bulky full record (summary + every raw run) goes
    # FIRST on its own line and to a local side file; the LAST line is
    # the compact self-contained summary (per-query mins, normalized,
    # value* totals, calib — everything but raw_runs),
    # compact separators, so the tail always parses. The contract is
    # unit-tested (tests/test_sweep_gate.py).
    side = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_LOCAL.json")
    try:
        with open(side, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError as exc:  # read-only checkout: stdout copy still has it
        print(f"# raw_runs side file unwritable: {exc}", file=sys.stderr)
    print(json.dumps(full, separators=(",", ":")))
    print(json.dumps(summary, separators=(",", ":")))


def build_records(timings: dict[str, float], sf: str,
                  raw: dict[str, list[float]],
                  host: dict | None = None,
                  engine: dict | None = None) -> tuple[dict, dict]:
    """(full, summary) bench records. ``full`` carries every timed arm
    plus raw_runs; ``summary`` is the driver-facing compact record —
    headline + calib queries only, no raw_runs — sized to survive a
    2 KB stdout-tail capture however many ab_* arms a round adds.

    The headline total stays comparable round-over-round: ab_* entries
    are reported per-query but excluded from the total. Alongside the
    min-of-N total (the contention-free plan-cost estimate), the
    first-timed-run and median totals (all after the warm pass) are
    reported so rounds benched under
    different estimators can still be compared like-for-like — min-of-N
    is biased low vs a single-shot number under contention, and a round
    delta should never be an artifact of switching estimators. The
    normalized view is per-query min / calib_jvm_hash min: the
    calibration arm is data-independent pure-JVM compute, so that
    column is comparable across rounds even when the host speed moves
    (the round-9 drift lesson — BASELINE.md reads this column).

    ``engine``: the session's effective master / defaultParallelism /
    shuffle partitions (round-15) — rides both records so a
    reduced-core run ($SPARK_GRAFT_CPUS) is self-describing even
    though host.ncpu keeps reporting the machine's core count.

    ``host`` (host_telemetry): the run's own contention evidence —
    loadavg/busy%/steal%/PSI spanning the run plus the calibration
    arm's min/median/max scatter — rides BOTH records so the driver
    artifact itself says whether its numbers were taken on a quiet
    host (round-13 verdict ask #1). The full record additionally
    carries load1_runs: the 1-min loadavg sampled before every timed
    run, keyed like raw_runs, and codegen_runs: each arm's Janino
    compilations, JIT ms and the other codegen counters over its timed
    runs (_CODEGEN)."""
    calib = min(raw[CALIB]) if CALIB in raw else None

    def _total(pick) -> float:
        return round(sum(pick(raw[n]) for n in HEADLINE), 3)

    normalized = (
        {n: round(timings[n] / calib, 4) for n in HEADLINE} if calib else {}
    )
    summary = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings[n] for n in HEADLINE), 3),
        "value_first_run": _total(lambda r: r[0]),
        "value_median": _total(lambda r: sorted(r)[len(r) // 2]),
        "value_normalized": round(sum(normalized.values()), 3)
        if normalized else None,
        "calib_sec": calib,
        "unit": "sec",
        # headline + calib arms only (~1 KB): the ~25 ab_* arms would
        # push this line past the driver's 2 KB stdout tail — they ride
        # the full record below instead. calib_fact_scaleup is the
        # data-heavy scaling witness (see _calibration) and must reach
        # the driver's cross-core comparison, so it rides the summary.
        "queries": {n: timings[n]
                    for n in HEADLINE + [CALIB, "calib_scan_lineitem",
                                         "calib_fact_scaleup"]
                    if n in timings},
        "normalized": normalized,
        "runs": N_RUNS,
        "fast_extra": FAST_EXTRA_RUNS,
        "host": host,
        "engine": engine,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    full = dict(summary, queries=timings, raw_runs=raw,
                load1_runs=dict(_LOAD1), codegen_runs=dict(_CODEGEN))
    return full, summary


if __name__ == "__main__":
    main()
