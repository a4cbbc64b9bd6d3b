"""Self-tests of the benchmark: seeded inputs, the declared metric set,
and a small-size smoke run of every workload with its checks.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import gen, run
from perfbench.workloads import WORKLOADS

#: generator sizes of each workload part, small enough for a smoke run
SMALL = {"wordcount_text": 1, "dedup_minhash": 300, "tpch_sf001": 0.2,
         "versioned_dml": 1000}


def _small(workload: str) -> dict:
    return {p.name: SMALL[p.name] for p in WORKLOADS[workload].parts}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = \
                    hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("part", sorted(SMALL))
def test_seed_reproduces_inputs(tmp_path, part):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(part, 1, SMALL[part], a)
    gen.generate(part, 1, SMALL[part], b)
    gen.generate(part, 2, SMALL[part], c)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    data = [f for f in da if f not in ("DONE", "info.json")]
    assert any(da[f] != dc.get(f) for f in data)


def test_reference_tokens_contract():
    assert gen.reference_tokens("Hello,  World! it's (x-y)\n") == \
        ["hello", "world", "its", "xy"]


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("run"))
    confs = run._isolate(work)
    from mapreduce_4_spark.session import get_spark

    s = get_spark("perfbench-test", extra_confs=confs)
    yield s
    run._stop(s)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_job_passes_its_check(spark, tmp_path, workload):
    inputs, scratch = str(tmp_path / "in"), str(tmp_path / "scratch")
    gen.generate(workload, 5, _small(workload), inputs)
    os.makedirs(scratch)
    wl = WORKLOADS[workload](spark, inputs, scratch, 5)
    out = wl.job(0)
    wl.check(out)
    wl.discard(out)
    from perfbench.trace import Tracer

    out = wl.traced_job(1, Tracer())
    wl.check(out)  # only the first TPC-H pass collects; later ones pass
    wl.discard(out)


def test_smoke_check_rejects_a_wrong_output(spark, tmp_path):
    inputs, scratch = str(tmp_path / "in"), str(tmp_path / "scratch")
    gen.generate("text", 5, _small("text"), inputs)
    os.makedirs(scratch)
    wl = WORKLOADS["text"](spark, inputs, scratch, 5)
    outs = wl.job(0)
    out = outs[0]  # the word count's output tree
    part_dir = os.path.join(out, sorted(d for d in os.listdir(out)
                                        if d.startswith("doc_id="))[0])
    part = [p for p in os.listdir(part_dir) if p.startswith("part-")][0]
    with open(os.path.join(part_dir, part), "a") as f:
        f.write("(zzzz,1)\n")
    with pytest.raises(AssertionError):
        wl.check(outs)
