"""Scratch lifetime pins: every run directory lives under the process's one
scratch root, which the exit hook removes, and a new root sweeps the roots
of dead processes."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from mini_project_big_data_analysis_spark import scratch
from mini_project_big_data_analysis_spark.queries import all_queries


@pytest.fixture
def tmp_scratch(tmp_path, monkeypatch):
    """``tempfile.gettempdir()`` pointed at ``tmp_path``, with a fresh root
    registry so the exit hook only sees roots made under it."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scratch, "_ROOTS", set())
    return tmp_path


# one id per streaming sink kind, two batch sinks and the bucketed tables
SCRATCH_IDS = [
    "stream_tumbling_agg",  # memory sink
    "stream_clean_sink",  # parquet sink from DDL
    "stream_foreachbatch_upsert",  # foreachBatch callable
    "stream_multibatch_agg",  # arrival files
    "snk_append_write",
    "snk_compact_small_files",
    "join_bucketed",  # saveAsTable locations
]


def test_runs_leave_only_the_process_root(spark, sf_dir, tmp_scratch):
    registry = all_queries()
    for _ in range(2):
        for qid in SCRATCH_IDS:
            registry[qid].fn(spark, sf_dir).collect()
    own = f"mpbda_{os.getpid()}"
    assert os.listdir(tmp_scratch) == [own]
    assert len(os.listdir(tmp_scratch / own)) >= 2 * len(SCRATCH_IDS)
    scratch.remove_roots()
    assert os.listdir(tmp_scratch) == []


def test_new_root_sweeps_dead_roots_only(tmp_scratch):
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()  # reaped: its pid names no live process
    dead = tmp_scratch / f"mpbda_{p.pid}"
    (dead / "ck").mkdir(parents=True)
    live = tmp_scratch / f"mpbda_{os.getppid()}"
    live.mkdir()
    other = tmp_scratch / "mpbda_ckpt"  # not a per-process root
    other.mkdir()

    run_dir = scratch.scratch_dir("t")
    assert os.path.dirname(run_dir) == str(tmp_scratch / f"mpbda_{os.getpid()}")
    assert os.path.basename(run_dir).startswith("t_")
    assert not os.path.exists(run_dir)  # Spark writers refuse an existing path
    assert scratch.scratch_dir("t") != run_dir
    assert not dead.exists()
    assert live.is_dir() and other.is_dir()

    scratch.remove_roots()
    assert sorted(os.listdir(tmp_scratch)) == sorted([live.name, other.name])
