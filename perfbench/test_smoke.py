"""Smoke test of the benchmark at tiny size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json on a few dozen documents, untraced
and traced, and asserts that each prints every metric BENCHMARK.json names
for that mode, with its unit.  Then it corrupts one row of a finished
output -- a flipped ``keep``, one altered ``text_clean`` byte -- and asserts
that the run reports a failed operation.  At this size a single flipped
keep takes the keep/drop F1 below the 0.99 gate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
TINY = 40


def run(*args: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "0", "--size", str(TINY),
         "--seed", "7", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    r = run("--workload", workload, "--trace", str(trace))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())


@pytest.mark.parametrize("kind", ["keep", "text"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_checks_fire_on_a_corrupted_output(workload, kind):
    r = run("--workload", workload, "--corrupt", kind)
    assert r["correct"] is False and r["failed"] >= 1
