"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The first tests need no Spark. The smoke runs start ``perfbench/run.py``
as a subprocess from the repository root, on the scale-0.001 fixtures, and
take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from itertools import islice

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _sequence(workload: str, seed: int, n: int = 4) -> list[str]:
    return [q for p in islice(run.passes(workload, seed), n) for q in p]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_seed_fixes_sequence(workload):
    assert _sequence(workload, 7) == _sequence(workload, 7)
    other = _sequence(workload, 8)
    assert other != _sequence(workload, 7)
    assert Counter(other) == Counter(_sequence(workload, 7))
    for p in islice(run.passes(workload, 3), 5):
        assert sorted(p) == sorted(run.WORKLOADS[workload])


def test_fixtures_hold_every_table():
    from tests.oracle import TABLES

    for data in set(run.DATA.values()):
        names = os.listdir(os.path.join(run.FIXTURES, data))
        assert {f"{t}.parquet" for t in TABLES} <= set(names), data


def test_spec_matches_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_UNITS


def test_per_pass():
    assert run.per_pass({"a": [1.0, 3.0, 2.0], "b": [10.0, 10.0]}) == pytest.approx(12.0)
    assert run.n_passes(1) == 1


def _bench(args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize(("workload", "trace"), [("dashboard", 0), ("ingest", 1)])
def test_smoke_run(workload, trace):
    proc = _bench(["--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--data", "sf0.001"])
    detail, result = _result(proc)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= len(run.WORKLOADS[workload])
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if trace:
        assert abs(detail["trace"]["phase_sum_ratio"] - 1) <= run.PHASE_TOLERANCE
        assert result["metrics"]["streaming.batches"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.listdir(os.path.join(HERE, ".run"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".run", "out", "__pycache__"))
    proc = _bench(["--workload", "dashboard", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
