"""Smoke test of the benchmark: every workload, traced and untraced, on a
tiny input (``--scale 0.05``), end to end through run.py's output contract.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [REPO, BENCH_DIR]

import inputs  # noqa: E402
import run  # noqa: E402


def _run(cwd, *args, timeout=600):
    """run.py as BENCHMARK.json names it, from the root of a checkout."""
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,trace", [
    ("wave-fetch", 0), ("wave-fetch", 1),
    ("crawl-multiwave", 0), ("crawl-multiwave", 1),
    ("wave-dedup", 0),
])
def test_tiny_run_prints_checked_metrics(workload, trace):
    out = _run(REPO, "--workload", workload, "--seed", "3", "--seconds", "0",
               "--trace", str(trace), "--scale", "0.05")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out.stderr[-3000:]
    names = run.LAYER_METRICS if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert not os.path.exists(os.path.join(REPO, ".perfbench_work", f"run-{os.getpid()}"))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(run.CALLS)


@pytest.mark.parametrize("workload", sorted(inputs.INPUTS))
def test_oracle_funnel_is_conserved_and_seeded(workload):
    make = inputs.INPUTS[workload]
    a, b = make(5, 0.05), make(5, 0.05)
    assert a.frontier.equals(b.frontier) and a.seen_snapshots == b.seen_snapshots
    funnel = inputs.oracle_wave(a)
    assert funnel.conserved() and funnel.fetched > 0


def _layers(fetch_s: float, other_s: float) -> dict:
    m = {k: other_s for k in run.DATA_PATH}
    m.update({"wave.fetch_full_s": fetch_s, "snapshot_store.corpus_append_s": other_s,
              "politeness.salted_hosts": 1, "politeness.retry_rows": 1,
              "politeness.dead_rows": 1, "wave.deferred_rows": 1})
    return m


def test_self_checks_read_the_workload_property():
    fetch_heavy = [{"n_in": 100, "fetched": 95, "seen": 5}]
    seen_heavy = [{"n_in": 100, "fetched": 5, "seen": 60}] * 2
    # a fetch-dominated wave passes even when fetch is under half the wall
    assert run.self_check("wave-fetch", _layers(3.0, 1.0), fetch_heavy, (1,)) == []
    assert run.self_check("wave-fetch", _layers(1.5, 1.0), fetch_heavy, (1,))
    assert run.self_check("wave-fetch", _layers(3.0, 1.0), seen_heavy, (1,))
    assert run.self_check("crawl-multiwave", _layers(1.0, 1.0), seen_heavy, (1, 2)) == []
    assert run.self_check("crawl-multiwave", _layers(1.0, 1.0), fetch_heavy * 2, (1, 2))
    assert run.self_check("crawl-multiwave", _layers(20.0, 1.0), seen_heavy, (1, 2))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "--workload", "wave-fetch", "--seed", "1", "--seconds", "1",
               "--trace", "0", timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
