"""Spans, Spark stage counters and process counters for the benchmark.

Everything here observes the program from outside: spans are opened by
the benchmark around its calls into the package, Spark's counters come
from the application's status REST API, and CPU and memory come from
``/proc``. Nothing in the package is patched.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans as JSON lines
    once the run is over."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def seconds(self, name: str, trace_id: str) -> float:
        """Total duration of the spans called ``name`` in one trace."""
        return sum(s.seconds for s in self.spans
                   if s.name == name and s.trace_id == trace_id)

    def median(self, name: str, trace_ids: list[str]) -> float:
        """Median over traces of each trace's total for ``name``."""
        return statistics.median(self.seconds(name, t) for t in trace_ids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# -- Spark status REST API ----------------------------------------------------

#: Stage counters summed per job group, with their scale to the reported unit.
_STAGE_SUMS = {
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1e-6),
    "shuffleWriteRecords": ("spark.shuffle_records", 1),
    "diskBytesSpilled": ("spark.spill_mb", 1e-6),
    "shuffleFetchWaitTime": ("spark.fetch_wait_s", 1e-3),
    "numCompleteTasks": ("spark.tasks", 1),
    "executorRunTime": ("spark.task_run_s", 1e-3),
    "executorCpuTime": ("spark.task_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "numFailedTasks": ("spark.tasks_failed", 1),
}
COUNTER_NAMES = [m for m, _ in _STAGE_SUMS.values()] + [
    "spark.task_skew", "spark.agg_groups", "sources.scan_tasks"]
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


class SparkCounters:
    """Reads one job group's stage and SQL metrics from the driver's
    status REST endpoint (``{uiWebUrl}/api/v1/applications/{appId}``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc
        #: group id -> that group's counters, in recording order
        self.recorded: dict[str, dict[str, float]] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    @contextmanager
    def group(self, group_id: str):
        """Tag every Spark job started inside the block with ``group_id``."""
        self._sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def _settled_jobs(self, group_id: str, timeout: float = 10.0) -> list[dict]:
        """The group's jobs, once the status listener has recorded all of
        them as finished (it trails the job's return by a few ms)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group_id]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) \
                    or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def record(self, group_id: str) -> None:
        self.recorded[group_id] = self.read(group_id)

    def read(self, group_id: str) -> dict[str, float]:
        jobs = self._settled_jobs(group_id)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        out = {m: 0.0 for m in COUNTER_NAMES}
        for s in stages:
            for key, (metric, scale) in _STAGE_SUMS.items():
                out[metric] += s.get(key, 0) * scale
            if s.get("inputBytes", 0) > 0:
                out["sources.scan_tasks"] += s["numCompleteTasks"]
        if stages:
            longest = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(f"/stages/{longest['stageId']}/{longest['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["spark.task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                for node in ex.get("nodes", []):
                    if node["nodeName"] in _AGG_NODES:
                        out["spark.agg_groups"] += _output_rows(node)
        return out


def _output_rows(node: dict) -> int:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(m["value"].replace(",", ""))
    return 0


# -- /proc --------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after its ')'
        return f.read().rsplit(")", 1)[1].split()


def process_tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process)
    and every live descendant: the JVM and its Python workers."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(int(entry))
        except OSError:
            continue  # exited while we were listing
        pid = int(entry)
        children.setdefault(int(f[1]), []).append(pid)
        cpu[pid] = (int(f[11]) + int(f[12])) / _TICK
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return total


def jvm_pid(spark) -> int:
    """The driver JVM launched for this session (a child of ours)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            return pid
    raise RuntimeError(f"process {pid} launched by the gateway is not the JVM")


def peak_rss_mb(pid: int) -> float:
    """``VmHWM``: the process's peak resident set size, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for process {pid}")
