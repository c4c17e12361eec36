"""Smoke test of the benchmark itself, at tiny input sizes.

Run from the repository root (a few minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Every workload runs once untraced and once traced. Each run must print a
correct result whose metrics are exactly the ones ``BENCHMARK.json``
names, with the same units.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402
import workloads  # noqa: E402


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def test_declared_metrics_match_the_runner():
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    assert tuple(names) == workloads.WORKLOADS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed3.json")
        with open(path) as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        assert "op" in names and any(n.startswith("stage ") for n in names)
        assert all(s["end"] >= s["start"] for s in spans)
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_fails_without_the_package(tmp_path):
    """In a directory that holds only the benchmark, a run fails fast
    and prints no result."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "latency_chain", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert "metrics" not in out.stdout
