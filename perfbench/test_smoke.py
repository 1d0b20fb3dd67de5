"""Smoke test of the benchmark itself (not part of the repo's tier-1 suite).

    python3 -m pytest perfbench/test_smoke.py -q

Runs both workloads at a tiny size with every correctness check on, one
traced run, the event-log fold on a small recorded log, and the refusal
in a directory that holds only the benchmark.
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
sys.path.insert(0, HERE)

import ledger  # noqa: E402

# shrink every workload without touching the command-line contract
TINY = ("import sys; sys.path.insert(0, {here!r}); import workloads as W; "
        "W.BUILD_GROUPS = 20; W.BASE_GROUPS = 20; W.NEW_GROUPS = 4; "
        "W.BATCH_OLD = W.BATCH_NEW = 10; "
        "import run; sys.exit(run.main({argv!r}))")


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_tiny(workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", str(trace)]
    res = subprocess.run(
        [sys.executable, "-c", TINY.format(here=HERE, argv=argv)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["build_normal", "append_serve"])
def test_workload_tiny_untraced(workload):
    out = run_tiny(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = {m["name"] for m in bench_spec()["end_to_end"]}
    assert set(out["metrics"]) == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_layer():
    out = run_tiny("append_serve", 1)
    assert out["correct"]
    want = {m["name"] for m in bench_spec()["per_layer"]}
    assert set(out["metrics"]) == want
    assert out["metrics"]["pipeline.run_incremental.jobs"]["value"] > 0
    assert out["metrics"]["trace.cpu_coverage"]["value"] > 0


def test_event_log_fold_on_recorded_log():
    jobs = ledger.fold_event_log(
        os.path.join(HERE, "testdata", "eventlog_small.json"))
    assert sorted(jobs) == list(range(40, 49))
    led = ledger.span_ledger({"job_lo": 40, "jobs": 9}, jobs)
    assert led["tasks"] == 36
    assert led["cpu_s"] == pytest.approx(2.049340384)
    assert led["run_s"] == pytest.approx(7.844)
    assert led["shuffle_mb"] == pytest.approx(
        (1224293 + 1156517) / 2**20)
    assert led["spill_mb"] == 0
    assert led["task_skew"] == pytest.approx(2.075875486381323)
    one = ledger.span_ledger({"job_lo": 47, "jobs": 1}, jobs)
    assert one["tasks"] == 4
    assert one["cpu_s"] == pytest.approx(0.224461698)


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build_normal",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert res.stdout.strip() == ""


def test_summary_tail_needs_ten_beyond():
    assert "tail" not in ledger.summary([1.0] * 19)
    s = ledger.summary([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["tail_pct"] == 75.0 and s["tail"] == 30.0
