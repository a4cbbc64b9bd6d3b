"""The sweep regression gate: SWEEP_BUDGET.json must cover the registry
and check_budget must catch the measured 8-10x regression class
(lambda-scope retokenize, all-pairs fallback) automatically."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_sweep


def _budget() -> dict[str, float]:
    with open(bench_sweep.BUDGET_FILE) as f:
        return json.load(f)["budget_sec"]


def test_budget_covers_registry():
    from mapreduce_4_spark.plans import REGISTRY

    missing = set(REGISTRY) - set(_budget())
    assert not missing, (
        f"queries without a sweep budget: {sorted(missing)} — regenerate "
        "SWEEP_BUDGET.json from the latest sweep"
    )


def test_gate_catches_regression_class():
    budget = _budget()
    name = next(iter(budget))
    # a deliberate 8x blowup on any budgeted query must breach
    breaches = bench_sweep.check_budget({name: budget[name] * 8})
    assert breaches and name in breaches[0]


def test_gate_passes_within_budget_and_warns_on_new():
    budget = _budget()
    name = next(iter(budget))
    ok = {name: budget[name] * 0.5, "brand_new_query_xyz": 99.0}
    # new queries warn (stderr) but never fail the gate
    assert bench_sweep.check_budget(ok) == []


def test_bench_stdout_summary_survives_driver_tail_capture():
    """The driver records only a ~2 KB stdout tail; BENCH_r09/r10 both
    came back parsed:null because one giant line (raw_runs included)
    overflowed it. Contract (round-10 ask #2): the summary record —
    the LAST stdout line — must be self-contained, raw_runs-free, and
    compact enough to survive the tail capture even with a large ab_*
    arm population; the full record carries everything."""
    import json

    import bench

    # a worst-case round: every headline + calib + 40 ab_* arms, all
    # with long names and full 6-dp timings
    timings = {n: 1.234567 for n in bench.HEADLINE}
    timings.update({bench.CALIB: 0.274321, "calib_scan_lineitem": 0.301234,
                    "calib_fact_scaleup": 0.412345})
    timings.update({f"ab_some_experiment_arm_with_long_name_{i:02d}": 12.345678
                    for i in range(40)})
    raw = {n: [round(v + 0.1 * k, 6) for k in range(3)]
           for n, v in timings.items()}

    host = bench.host_telemetry(bench.host_snapshot(),
                                bench.host_snapshot(),
                                [0.310123, 0.274321, 0.29, 0.3, 0.28])
    engine = {"master": "local[32]", "default_parallelism": 32,
              "shuffle_partitions": 32}
    full, summary = bench.build_records(timings, "0.1", raw,
                                        host=host, engine=engine)

    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1900, f"summary line {len(line)}B outgrows the tail"
    # r13 ask #1: the artifact carries its own host evidence — the
    # contention fields and the calibration arm's scatter — so a
    # driver-vs-builder normalized delta is explained by data
    assert summary["host"]["calib_scatter"] == [0.274321, 0.29, 0.310123]
    assert summary["host"]["ncpu"] == bench.os.cpu_count()
    assert "load_start" in summary["host"]
    assert "span_sec" in summary["host"]
    assert summary["fast_extra"] == bench.FAST_EXTRA_RUNS
    assert "raw_runs" not in summary
    assert set(summary["queries"]) == set(
        bench.HEADLINE + [bench.CALIB, "calib_scan_lineitem",
                          "calib_fact_scaleup"])
    # round-15: the artifact is self-describing about its execution
    # shape — a local[8] run must not masquerade as a 32-core one
    assert summary["engine"] == engine
    assert set(summary["normalized"]) == set(bench.HEADLINE)
    assert summary["value"] == round(1.234567 * len(bench.HEADLINE), 3)
    assert summary["calib_sec"] == 0.274321
    # the full record keeps every arm and the raws
    assert set(full["queries"]) == set(timings)
    assert full["raw_runs"] is raw
    # both lines parse back as JSON
    assert json.loads(line)["sf"] == 0.1
    assert json.loads(json.dumps(full, separators=(",", ":")))


class _FakeDF:
    """A frame whose noop-sink writes append its name to ``log``."""

    def __init__(self, log: list, name: str):
        self.write = self
        self._log, self._name = log, name

    def format(self, *_):
        return self

    def mode(self, *_):
        return self

    def save(self):
        self._log.append(self._name)


def test_bench_fast_queries_get_extra_runs():
    """r13 verdict ask #1 (timing de-noise): a headline arm whose min
    is under FAST_FLOOR_SEC collects N_RUNS + FAST_EXTRA_RUNS samples
    (min-of-5 by default); a slow arm stays at N_RUNS; arms that don't
    opt in (ab_*) are untouched. Per-run loadavg rides _LOAD1."""
    import bench

    timings = {}
    bench._RAW.clear()
    bench._LOAD1.clear()
    try:
        # sub-second (~0s fake): opts in -> N_RUNS + extra samples
        bench._timed(timings, "fast_arm", bench._noop(_FakeDF([], "fast")),
                     fast_extra=bench.FAST_EXTRA_RUNS)
        assert len(bench._RAW["fast_arm"]) == \
            bench.N_RUNS + bench.FAST_EXTRA_RUNS
        assert len(bench._LOAD1["fast_arm"]) == \
            len(bench._RAW["fast_arm"])
        # no opt-in (the ab_* path): plain min-of-N
        bench._timed(timings, "ab_arm", bench._noop(_FakeDF([], "ab")))
        assert len(bench._RAW["ab_arm"]) == bench.N_RUNS
        # a slow arm (floor forced below any sample): no extra runs
        prev = bench.FAST_FLOOR_SEC
        bench.FAST_FLOOR_SEC = -1.0
        try:
            bench._timed(timings, "slow_arm", bench._noop(_FakeDF([], "slow")),
                         fast_extra=bench.FAST_EXTRA_RUNS)
        finally:
            bench.FAST_FLOOR_SEC = prev
        assert len(bench._RAW["slow_arm"]) == bench.N_RUNS
        # a driver-side callable arm (no DataFrame to noop-sink) goes
        # through the same timer: load1_runs stays keyed like raw_runs
        calls = []
        bench._timed(timings, "fn_arm", lambda: calls.append(1))
        assert len(calls) == 1 + bench.N_RUNS  # warm-up + timed runs
        assert set(bench._LOAD1) == set(bench._RAW)
    finally:
        bench._RAW.clear()
        bench._LOAD1.clear()


def test_bench_warms_whole_headline_before_timing(monkeypatch):
    """A single warm-up per arm left seconds of HotSpot JIT in each
    arm's timed runs, so bench.main() warms the WHOLE headline first:
    every headline frame is written once, in one pass, before the first
    timed write (marked by the timer's perf_counter)."""
    import types

    import bench
    from mapreduce_4_spark import plans, session

    log: list[str] = []

    class _Spark:
        read = types.SimpleNamespace(
            parquet=lambda _: types.SimpleNamespace(count=lambda: 0))

    def _perf_counter():
        log.append("<timer>")
        return 0.0

    class _Stop(Exception):
        pass

    def _stop(*_):
        raise _Stop

    monkeypatch.setattr(session, "get_spark", lambda *_: _Spark())
    monkeypatch.setattr(plans, "REGISTRY", {
        n: types.SimpleNamespace(
            builder=lambda spark, sf, n=n: _FakeDF(log, n))
        for n in bench.HEADLINE})
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(
        perf_counter=_perf_counter, time=lambda: 0.0))
    # the headline is done once calibration starts: stop main() there
    monkeypatch.setattr(bench, "_calibration", _stop)
    monkeypatch.setattr(bench, "_RAW", {})
    monkeypatch.setattr(bench, "_LOAD1", {})
    monkeypatch.setattr(bench, "_CODEGEN", {})
    with pytest.raises(_Stop):
        bench.main()
    # one pass: the first writes are each headline frame exactly once
    assert sorted(log[:len(bench.HEADLINE)]) == sorted(bench.HEADLINE), log
    assert set(log[:log.index("<timer>")]) == set(bench.HEADLINE), log
    # and every headline arm was then timed
    assert set(bench._RAW) == set(bench.HEADLINE)
