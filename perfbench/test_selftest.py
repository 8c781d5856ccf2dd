"""Tiny-size self-test of the benchmark: every workload once, one traced
run, the ledger parser, and the failure exit outside a full checkout.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import ledger  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--scale", "0.1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == \
        run.per_layer_units()


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_once(workload):
    out = result(bench("--workload", workload, "--trace", "0"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_reports_every_layer():
    out = result(bench("--workload", "er_pipeline", "--trace", "1"))
    assert out["correct"], out
    metrics = {k: m["value"] for k, m in out["metrics"].items()}
    assert set(metrics) == set(run.per_layer_units())
    for name in ("scoring.s", "checkpoint.write_s", "checkpoint.read_s",
                 "checkpoint.write.jobs", "checkpoint.read.jobs",
                 "pipeline.jobs",
                 "checkpoint.bytes_written", "pairs.candidates"):
        assert metrics[name] > 0, name


def test_fails_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = bench("--workload", "near_dup_ann", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_ledger_groups_tasks_by_job_group():
    def task(stage, run_ms, cpu_ns, written=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 0,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": written}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "scoring"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "resolve"}},
        task(0, 1000, 4e8, 2**20), task(0, 3000, 1e9), task(1, 500, 5e8),
        task(2, 200, 1e8),
    ]
    rows = ledger.parse(json.dumps(e) for e in events)
    scoring = rows["scoring"]
    assert scoring["jobs"] == 1 and scoring["tasks"] == 3
    assert scoring["exec_run_s"] == pytest.approx(4.5)
    assert scoring["exec_cpu_s"] == pytest.approx(1.9)
    assert scoring["python_s"] == pytest.approx(2.6)
    assert scoring["shuffle_write_mb"] == pytest.approx(1.0)
    assert scoring["task_skew"] == pytest.approx(3000 / 2000)
    assert rows["resolve"]["tasks"] == 1


def test_interval_union_counts_overlap_once():
    assert run.interval_union([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
