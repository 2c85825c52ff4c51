"""Tiny-size smoke test of the benchmark itself (about six minutes on
four cores):

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs once on small inputs and must pass its own output
checks and report every metric BENCHMARK.json names; admission runs twice
on one seed and must repeat its decision counts exactly; and without the
engine's sources the benchmark must fail without printing a result.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {
    "connector_feed": {"setup_events": 40, "max_events_per_partition": 100,
                       "live_rate": 200},
    "hql_search": {"tables": {"events": 2000, "documents": 300},
                   "warm_rounds": 1},
    "admission": {"tables": {"documents": 200},
                  "batch_size": 40},
}


@pytest.fixture
def scratch_dir():
    """A fresh directory inside the checkout's ignored work area."""
    path = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)
    with contextlib.suppress(OSError):  # the work area, once empty
        os.rmdir(os.path.dirname(path))


@pytest.fixture
def tiny_config(scratch_dir) -> str:
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    for wl, over in TINY.items():
        cfg["workloads"][wl].update(over)
    path = os.path.join(scratch_dir, "tiny.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    return path


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=180)
    return p.returncode, p.stdout.strip().splitlines()


def _metric_names(key: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[key]}


@pytest.mark.parametrize("workload,trace", [
    ("connector_feed", "0"), ("hql_search", "1"), ("admission", "1")])
def test_workload_runs_checks_and_reports(tiny_config, workload, trace):
    rc, out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds",
                   "2", "--trace", trace, "--config", tiny_config)
    result = json.loads(out[-1])
    assert rc == 0 and result["correct"], out
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0
    names = _metric_names("per_layer" if trace == "1" else "end_to_end")
    assert set(result["metrics"]) == names
    assert all(math.isfinite(m["value"]) for m in result["metrics"].values())


def test_admission_decision_counts_repeat(tiny_config):
    counts = []
    for _ in range(2):
        rc, out = _run(ROOT, "--workload", "admission", "--seed", "5",
                       "--seconds", "1", "--trace", "1",
                       "--config", tiny_config)
        assert rc == 0, out
        m = json.loads(out[-1])["metrics"]
        counts.append({k: v["value"] for k, v in m.items()
                       if k.startswith("dedup_index.") and not k.endswith("_s")})
    assert counts[0] == counts[1] and counts[0]["dedup_index.admitted"] > 0


def test_fails_without_engine_sources(scratch_dir):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch_dir)
    shutil.copytree(HERE, os.path.join(scratch_dir, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(scratch_dir, "--workload", "hql_search", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    assert rc != 0
    assert not out or not out[-1].startswith("{")
