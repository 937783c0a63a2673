"""Smoke test of the benchmark at toy size (a few minutes; each run
starts its own Spark):

    python3 -m pytest e2e_bench/test_smoke.py -q

- every metric BENCHMARK.json names is printed, with its unit, by the
  untraced and the traced run of each workload;
- served answers equal those of a reader over an in-memory model run;
- a deliberately corrupted expected value (game names, registry row
  counts) makes the run report failed operations and ``correct: false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "6", "--trace", str(trace), "--size", "toy", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_served_answers_match_an_in_memory_model_run():
    out = _run("serve_mix", 0, "--differential")
    assert out["correct"] is True and out["failed"] == 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_expectation_counts_as_failed(workload):
    out = _run(workload, 0, "--corrupt-expected")
    assert out["failed"] / out["attempted"] > 0
    assert out["correct"] is False
