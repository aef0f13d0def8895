"""Pins for ``record.run_query``, the one way bench.py, the audit scripts and
the dev loop run and record a query: its phase times add up, its stage
counters come from the jobs the run started, a warm rerun compiles nothing,
a streaming run names the path it took, the progress hook is left as found,
and a job the status store no longer holds fails the record instead of
counting as zero."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from mini_project_big_data_analysis_spark import record
from mini_project_big_data_analysis_spark.streaming import pipeline

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count_rows(df) -> int:
    return df.count()


def test_batch_record_phases_and_stage_counters(spark):
    rec = record.run_query(spark, "agg_group_avg", SF_DIR)
    assert rec["build_s"] > 0 and rec["exec_s"] > 0
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["wall_s"], abs=1e-9)
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= rec["stages"]
    # a scan plus a grouped aggregate: rows read, partial aggregates shuffled
    assert rec["input_rows"] > 0 and rec["shuffle_write_bytes"] > 0
    assert rec["failed_tasks"] == 0 and rec["spill_bytes"] == 0
    assert rec["stream"] is None and rec["result"] is None


def test_warm_rerun_compiles_nothing(spark):
    record.run_query(spark, "agg_group_avg", SF_DIR)
    assert record.run_query(spark, "agg_group_avg", SF_DIR)["compiles"] == 0


def test_stream_record_names_the_path_that_ran(spark):
    rec = record.run_query(spark, "stream_tws_dedup", SF_DIR, action=count_rows)
    stream = rec["stream"]
    assert set(record.STREAM_FIELDS) <= set(stream)
    assert stream["names"] and all(
        n.startswith(("tws_dedup_", "tws_dedup_fallback_")) for n in stream["names"]
    ), stream["names"]
    assert stream["batches"] >= 1 and stream["input_rows"] > 0
    # micro-batch jobs run on the stream's own threads and are still counted
    assert rec["jobs"] >= stream["batches"]
    assert pipeline.PROGRESS_SINK is None


def test_progress_sink_is_restored(spark, monkeypatch):
    mine: list = []
    monkeypatch.setattr(pipeline, "PROGRESS_SINK", mine)
    rec = record.run_query(spark, "stream_clean_sink", SF_DIR, action=count_rows)
    assert rec["stream"]["batches"] >= 1
    assert pipeline.PROGRESS_SINK is mine and mine == []

    def failing(df):
        raise ValueError("action failed")

    with pytest.raises(ValueError, match="action failed"):
        record.run_query(spark, "stream_clean_sink", SF_DIR, action=failing)
    assert pipeline.PROGRESS_SINK is mine and mine == []


def test_evicted_job_raises_instead_of_counting_zero(spark, monkeypatch):
    # The first read of the scheduler's next job id lands on a job the
    # status store does not hold, as after retainedJobs eviction.
    real = record._next_job_id
    reads = iter([lambda sc: -1, real])
    monkeypatch.setattr(record, "_next_job_id", lambda sc: next(reads)(sc))
    with pytest.raises(RuntimeError, match="agg_group_avg: job -1 has left the status store"):
        record.run_query(spark, "agg_group_avg", SF_DIR)


class _EvictingStore:
    """The live status store, minus one stage (as after retainedStages
    eviction): looking it up raises the store's own NoSuchElementException."""

    def __init__(self, store, evicted: int) -> None:
        self._store, self._evicted = store, evicted

    def job(self, jid):
        return self._store.job(jid)

    def lastStageAttempt(self, sid):
        return self._store.lastStageAttempt(-1 if sid == self._evicted else sid)


def test_evicted_stage_raises_only_when_it_ran(spark):
    rec = record.run_query(spark, "agg_group_avg", SF_DIR)
    sc = spark.sparkContext._jsc.sc()
    store, end = sc.statusStore(), record._next_job_id(sc)
    first = end - rec["jobs"]
    by_status: dict[str, list[int]] = {}
    for jid in range(first, end):
        ids = store.job(jid).stageIds()
        for i in range(ids.length()):
            status = store.lastStageAttempt(ids.apply(i)).status().toString()
            by_status.setdefault(status, []).append(ids.apply(i))
    # AQE runs the exchange as its own job; the result job lists it again
    # under a new, skipped stage id
    assert by_status.get("COMPLETE") and by_status.get("SKIPPED"), by_status
    counters = {k: rec[k] for k in record.STAGE_FIELDS}
    assert record._stage_counters(store, "agg_group_avg", first, end) == counters
    # a skipped stage carries no counters: losing it loses nothing
    skipped = _EvictingStore(store, by_status["SKIPPED"][0])
    assert record._stage_counters(skipped, "agg_group_avg", first, end) == counters
    ran = _EvictingStore(store, by_status["COMPLETE"][0])
    with pytest.raises(RuntimeError, match="agg_group_avg: a stage job .* completed has left"):
        record._stage_counters(ran, "agg_group_avg", first, end)


def test_take_stream_budget_sets_module_and_env(monkeypatch, capsys):
    monkeypatch.setattr(pipeline, "STREAM_BUDGET_S", pipeline.STREAM_BUDGET_S)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BUDGET_S", "300")
    argv = ["sf", "--stream-budget", "42", "q"]
    record.take_stream_budget(argv, "usage: x")
    assert argv == ["sf", "q"]
    assert pipeline.STREAM_BUDGET_S == 42.0
    assert os.environ["SPARK_GRAFT_STREAM_BUDGET_S"] == "42.0"
    for bad in (["--stream-budget"], ["--stream-budget", "soon"]):
        with pytest.raises(SystemExit) as exc:
            record.take_stream_budget(bad, "usage: x")
        assert exc.value.code == 2
        assert "usage: x" in capsys.readouterr().err
    assert pipeline.STREAM_BUDGET_S == 42.0


def test_request_path_does_not_import_the_record():
    probe = (
        "import sys\n"
        "import mini_project_big_data_analysis_spark.queries\n"
        "import mini_project_big_data_analysis_spark.session\n"
        "assert 'mini_project_big_data_analysis_spark.record' not in sys.modules\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
