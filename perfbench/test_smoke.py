"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload traced on tiny inputs (which also exercises the
untraced path: a traced run measures untraced segments for the
overhead), checks the result line against BENCHMARK.json, checks that a
corrupted expectation fails the run, and that the benchmark fails
cleanly in a directory holding only itself.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--seconds", "2", "--scale", "0.05"]


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1 and out["failed"] == 0
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_per_layer_metric(workload):
    out = _result(_run("--workload", workload, "--seed", "5", "--trace", "1", *TINY))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    art = json.load(open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-s5.json")))
    assert art["spans"] and set(art["overhead"]) == {"op_p50_ms", "op_p90_ms", "ops_per_s"}
    # every layer ran traced, the probed ones included
    counted = [k for k in want if k.endswith(("scans_per_load", "jobs_per_load",
                                              "jobs_per_req", "action_jobs", ".tasks"))]
    assert len(counted) == 13
    assert all(out["metrics"][k]["value"] > 0 for k in counted), counted


def test_untraced_run_reports_every_end_to_end_metric():
    out = _result(_run("--workload", "search_session", "--seed", "6", "--trace", "0", *TINY))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_expectation_fails_the_run(workload):
    p = _run("--workload", workload, "--seed", "7", "--trace", "0", "--corrupt-expected", *TINY)
    assert p.returncode != 0
    assert not p.stdout.strip()
    assert "WrongOutput" in p.stderr


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for rel in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, rel), tmp_path / rel,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", cwd=tmp_path, timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()
