"""Smoke tests of the benchmark runner at sf0.001 (``--scale smoke``).

    python3 -m pytest perfbench/test_smoke.py -q

Each test starts the real processes (server, Spark), so the module takes
a few minutes.
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
WORKLOADS = ["dashboard_point", "analytic_scan", "ingest_and_read",
             "curation_batch"]


def _declared(kind: str) -> set[str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int, cwd: str = CHECKOUT, seconds: int = 4
         ) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_is_correct_and_reports_end_to_end(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == _declared("end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_tmp"))


def test_traced_run_reports_every_per_layer_metric():
    # long enough for the writer's fourth commit kind, compact, to land
    # inside the measured window (one commit per 2.5 s)
    proc = _run("ingest_and_read", 1, seconds=11)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stdout
    assert set(result["metrics"]) == _declared("per_layer")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("flight.prepare_ms", "engine.handshake_ms",
                 "dialect.rewrite_ms", "iceberg.commit_ms.compact",
                 "spark.jobs", "trace.spans_per_op"):
        assert values[name] > 0, name


def test_bare_benchmark_directory_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("dashboard_point", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
