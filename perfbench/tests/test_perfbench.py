"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke and repeatability tests start Spark in a subprocess per run
(about a minute each); the generator and BENCHMARK.json tests need no Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, seed: int, trace: int, seconds: float = 2):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


# -- generator -------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a, b, c = (gen.warehouse_points(s, 2) for s in (7, 7, 8))
    for col in a:
        assert np.array_equal(a[col], b[col])
    assert not np.array_equal(a["ts"], c["ts"])
    assert gen.read_pool(a) == gen.read_pool(b)
    assert gen.read_pool(a) != gen.read_pool(c)  # the seed reaches requests through the points
    pool = gen.read_pool(a)
    assert gen.read_sequence(0, pool, 50) == gen.read_sequence(0, pool, 50)
    assert gen.read_sequence(0, pool, 50) != gen.read_sequence(1, pool, 50)


def test_generated_points_hold_each_key_once():
    b = gen.warehouse_points(3, 3)
    keys = set(zip(b["series"].tolist(), b["ts"].tolist()))
    assert len(keys) == len(b["ts"])


def test_one_series_crosses_the_parallel_listing_threshold():
    from perfbench.workloads import SERVE_COPIES

    b = gen.warehouse_points(3, SERVE_COPIES)
    days = {s: len(np.unique(b["ts"][b["series"] == s] // gen.DAY)) for s in set(b["series"].tolist())}
    assert days.pop(gen.LONG_SERIES) > 32
    assert max(days.values()) <= 32


def test_read_mix_gives_each_part_of_the_read_path_an_equal_share():
    share = dict(gen.READ_MIX)
    parts = (("get_hit", "get_miss"), ("bucket_aligned",), ("bucket_unaligned", "bucket_nunit"), ("ma",), ("raw_day",))
    assert sorted(share) == sorted(k for p in parts for k in p)
    assert len({sum(share[k] for k in p) for p in parts}) == 1
    cycle = gen._kind_cycle()
    assert {k: cycle.count(k) for k in share} == share


# -- BENCHMARK.json -------------------------------------------------------


def test_benchmark_json_lists_the_reported_metrics():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == list(metrics.PER_LAYER)
    assert 1 <= len(SPEC["per_layer"]) <= 128
    assert tuple(metrics._SPARK_UNITS) == spans.COUNTERS
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"] + SPEC["workloads"]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(set(names)) == len(names)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"]) <= 0.25


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# -- runs at tiny scale ----------------------------------------------------


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_reports_every_metric(workload, trace):
    _details, result = _run(workload, seed=11, trace=trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_runs_repeat_their_spark_counters():
    """Two traced runs with the same seed give identical per-operation
    Spark counters (opbank has one client and a fixed list, so its
    operations line up; how many timed passes fit differs, so the
    operations both runs made are compared, the first timed pass among them)."""
    runs = [_run("opbank", seed=5, trace=1)[0] for _ in range(2)]
    stable = ("jobs", "tasks", "input_records", "failed_tasks")
    ops = [{g: {k: c[k] for k in stable} for g, c in r["details"]["spark_by_op"].items()} for r in runs]
    both = ops[0].keys() & ops[1].keys()
    assert any(":p1-" in g for g in both)
    assert {g: ops[0][g] for g in both} == {g: ops[1][g] for g in both}
