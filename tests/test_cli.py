"""CLI surface tests (``python -m mini_project_big_data_analysis_spark``).

The reference's user surface is ``python <script>.py`` (producer.py /
consumer.py / app.py); the CLI is this engine's equivalent. Tests drive
``cli_main`` in-process with the shared session — list needs no JVM,
run/entry reuse the fixture.
"""

from __future__ import annotations

import json

import pytest

from mini_project_big_data_analysis_spark.__main__ import cli_main
from mini_project_big_data_analysis_spark.queries import all_queries

from conftest import SF_DIR


def test_list_prints_full_catalog(capsys):
    assert cli_main(["list"]) == 0
    out = capsys.readouterr().out.split()
    assert sorted(out) == sorted(all_queries())


def test_list_prefix_filters(capsys):
    assert cli_main(["list", "--prefix", "stream_"]) == 0
    out = capsys.readouterr().out.split()
    assert out and all(q.startswith("stream_") for q in out)


def test_run_unknown_id_exits_2(capsys):
    assert cli_main(["run", "no_such_query"]) == 2
    assert "unknown query id" in capsys.readouterr().err


def test_run_shows_rows(spark, capsys):
    rc = cli_main(
        ["run", "agg_group_avg", "--sf-dir", SF_DIR, "--show", "3"], spark=spark
    )
    assert rc == 0
    captured = capsys.readouterr()
    assert "event_type" in captured.out
    # the run's record, as record.run_query returns it minus the result
    record = json.loads(captured.err.strip().splitlines()[-1])
    assert "result" not in record
    assert record["jobs"] >= 1 and record["stages"] >= 1
    assert record["wall_s"] >= record["exec_s"] > 0
    assert record["stream"] is None
    assert record["session"]["master"] == spark.sparkContext.master


def test_run_writes_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "res")
    rc = cli_main(
        ["run", "agg_group_avg", "--sf-dir", SF_DIR, "--out", out], spark=spark
    )
    assert rc == 0
    assert spark.read.parquet(out).count() > 0


def test_run_explain_prints_plan(spark, capsys):
    rc = cli_main(
        ["run", "proj_select_cols", "--sf-dir", SF_DIR, "--explain", "--show", "1"],
        spark=spark,
    )
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_entry_runs_flagship(spark, capsys):
    assert cli_main(["entry", "--sf-dir", SF_DIR, "--show", "2"], spark=spark) == 0
    assert "region" in capsys.readouterr().out


@pytest.mark.parametrize(
    "args",
    [[], ["sf"], ["sf", "tag"], ["sf", "tag", "no_such_query"], ["sf", "tag", "agg_describe", "bogus"]],
)
def test_capture_plan_bad_args_never_start_a_session(monkeypatch, capsys, args):
    from mini_project_big_data_analysis_spark import session
    from scripts import capture_plan

    def no_session(*a, **k):
        raise AssertionError("get_spark called for bad arguments")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr("sys.argv", ["capture_plan.py", *args])
    assert capture_plan.main() != 0
    assert capture_plan.USAGE in capsys.readouterr().err


@pytest.mark.parametrize(
    "args",
    [
        [],
        ["sf"],
        ["--stream-budget"],
        ["sf", "agg_describe", "--stream-budget"],
        ["--stream-budget", "soon", "sf", "agg_describe"],
        ["sf", "no_such_query"],
    ],
)
def test_scaling_sweep_bad_args_never_start_a_session(monkeypatch, capsys, args):
    from mini_project_big_data_analysis_spark import session
    from scripts import scaling_sweep

    def no_session(*a, **k):
        raise AssertionError("get_spark called for bad arguments")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr("sys.argv", ["scaling_sweep.py", *args])
    try:
        code = scaling_sweep.main()
    except SystemExit as exc:  # the shared --stream-budget parser exits itself
        code = exc.code
    assert code == 2
    assert scaling_sweep.USAGE in capsys.readouterr().err
