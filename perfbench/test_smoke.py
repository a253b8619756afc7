"""Smoke test of the benchmark command at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once traced and once untraced with an injected broken
operation. The printed metric names must match ``BENCHMARK.json``, the
injected failure must be counted without aborting the run, and the command
must refuse to run from a directory without the package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", str(SPEC["run_seconds"]),
           "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_counts_injected_failure(workload):
    out = _result(_run(CHECKOUT, workload, 0, "--tiny", "--inject-failure"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0
    assert out["failed"] == 1 and not out["correct"]
    assert out["attempted"] > 2


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_emits_per_layer(workload):
    out = _result(_run(CHECKOUT, workload, 1, "--tiny"))
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    tag = f"{workload}-seed7-s{SPEC['run_seconds']}-trace1-tiny"
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    assert os.path.getsize(os.path.join(out_dir, f"{tag}-spans.jsonl")) > 0
    with open(os.path.join(out_dir, f"{tag}.json")) as f:
        record = json.load(f)
    # the untraced run of this seed had an injected failure: no basis
    assert record["trace_overhead_s"] is None
    assert "had failures" in record["overhead_basis"]


def test_refuses_without_the_package(tmp_path):
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(CHECKOUT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
