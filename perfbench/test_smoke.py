"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs every workload once untraced and once traced (``--size tiny``) and
checks that each BENCHMARK.json metric is printed with its unit, that every
output check passed, and that the traced run's output hash equals the
untraced run's for the same seed. Takes a few minutes: each run starts its
own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(SEED),
        "--seconds", "1",
        "--trace", str(trace),
        "--size", "tiny",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_untraced_and_traced(workload):
    report, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}

    t_report, t_result = _run(workload, 1)
    assert t_result["correct"] and t_result["failed"] == 0
    assert t_report["hashes_match"]
    # the untraced run's output, from another process, for the same seed
    assert set(t_report["hashes_traced"]) == {report["hashes"][0]}
    for m in SPEC["per_layer"]:
        assert t_result["metrics"][m["name"]]["unit"] == m["unit"]
    assert set(t_result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
