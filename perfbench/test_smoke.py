"""Smoke test for the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks, for every workload and both modes, that the run exits 0, that its
last line is the result object with exactly the metrics BENCHMARK.json
declares (with their units), that every output check passed, and that the
traced layer self times plus `unattributed_s` add up to the traced wall.
Also checks that the benchmark fails, without a result, when the program
is not next to it. Takes a few minutes: every run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# layers whose self time must be non-zero on each workload
EXERCISED = {"build": ["materialize", "linking", "incremental"],
             "ops": ["dedup", "similarity", "graph"]}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_run_reports_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values())
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    parts = sum(v for k, v in values.items() if k.endswith(".self_s")) + values["unattributed_s"]
    assert parts == pytest.approx(values["trace.wall_s"], rel=1e-6)
    for layer in EXERCISED[workload]:
        assert values[f"{layer}.self_s"] > 0, layer
    assert values["spark.jobs"] > 0 and values["session.start_s"] > 0


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, WORKLOADS[0], 0)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
