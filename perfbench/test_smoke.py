"""Smoke test of the benchmark harness: a three-op run of each workload,
untraced and traced, from the root of the checkout.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> list[str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()


def test_benchmark_json_matches_harness():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [(n, u, b) for n, u, b, *_ in layers.LAYER_METRICS]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_untraced(workload):
    lines = _run(workload, 0)
    # the totals stand alone on the last line, whatever precedes them
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1
    for name, unit in run.END_TO_END.items():
        m = last["metrics"][name]
        assert m["unit"] == unit and m["value"] > 0, (name, m)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced(workload):
    last = json.loads(_run(workload, 1)[-1])
    assert last["correct"] is True
    for name, unit, *_ in layers.LAYER_METRICS:
        m = last["metrics"][name]
        assert m["unit"] == unit and m["value"] == m["value"], (name, m)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "tpch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


def test_tail_latency_keeps_ten_samples_beyond():
    lat = [float(i) for i in range(1, 45)]
    value, pct = run.tail_latency(lat)
    assert sum(x > value for x in lat) == 10
    assert pct == pytest.approx(100.0 * 34 / 44)
