"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced, traced and with corrupted results. The
printed metric names and units must be exactly the ones ``BENCHMARK.json``
declares, and a corrupted result must be counted as failed. Each run
starts its own Spark session, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result_line(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res = result_line(run_bench("--workload", workload, "--trace", "0", "--scale", "tiny"))
    assert res["correct"] and res["failed"] == 0
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_spans(workload):
    proc = run_bench("--workload", workload, "--trace", "1", "--scale", "tiny")
    res = result_line(proc)
    assert res["correct"] and res["failed"] == 0
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == declared("per_layer")
    context = json.loads(proc.stdout.strip().splitlines()[-2])["context"]
    with open(os.path.join(ROOT, context["spans_file"])) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    assert set(trace["layer_spans"].values()) <= names
    assert all(s["end"] >= s["start"] for s in trace["spans"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_results_fail(workload):
    res = result_line(
        run_bench("--workload", workload, "--trace", "0", "--scale", "tiny", "--corrupt")
    )
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0


def test_workload_reasons_match_spec():
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS as IMPL

    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {
        name: IMPL[name].why for name in WORKLOADS
    }


def test_fails_without_the_program():
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", WORKLOADS[0], "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
