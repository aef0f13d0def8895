"""Pins for stream_tws_dedup's protobuf reachability contract.

The state server's Python workers import ``google.protobuf``.
``session.provision`` routes the package root and, when the driver
resolved the vendored runtime, its dir through ``sc.environment``, which
Spark merges into the worker PYTHONPATH of every UDF created afterwards,
so it reaches the workers of a session built anywhere. If the workers still
crash, the query falls back to dropDuplicates instead of failing. These
tests pin both halves."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from mini_project_big_data_analysis_spark.sources.readers import read_table
from mini_project_big_data_analysis_spark.streaming import pipeline
from mini_project_big_data_analysis_spark.session import PACKAGE_ROOT, provision
from mini_project_big_data_analysis_spark.vendor import _VENDOR_DIR


def _expected_dedup(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value",
        )
    )


def test_provision_reaches_sc_environment(spark):
    """Provisioning puts the package root, and the vendor dir when the
    driver resolved the shim (no real protobuf installed), on
    sc.environment's PYTHONPATH: the channel that reaches the TWS driver
    worker of an externally built session. Repeating it adds nothing."""
    provision(spark)
    provision(spark)
    import google.protobuf as pb

    parts = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert parts.count(PACKAGE_ROOT) == 1
    if pb.__file__.startswith(_VENDOR_DIR):
        assert parts.count(_VENDOR_DIR) == 1


def test_tws_fallback_result_identical(spark, sf_dir, monkeypatch, tmp_path):
    """When the state-api path dies with the TWS worker-crash signature, the
    query must return the identical exactly-once result via dropDuplicates,
    not crash."""

    def boom(*a, **k):
        raise RuntimeError(
            "Query terminated with exception: TransformWithStateInPySpark "
            "driver worker exited unexpectedly (crashed)"
        )

    monkeypatch.setattr(pipeline, "_tws_dedup_state_api", boom)
    got = pipeline.run_tws_dedup(spark, sf_dir)
    exp = _expected_dedup(spark, sf_dir)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_tws_unrelated_error_propagates(spark, sf_dir, monkeypatch):
    """The fallback only catches the protobuf-reachability crash; anything
    else must surface (silent fallback would mask real state-api bugs)."""

    def boom(*a, **k):
        raise ValueError("unrelated failure")

    monkeypatch.setattr(pipeline, "_tws_dedup_state_api", boom)
    with pytest.raises(ValueError, match="unrelated failure"):
        pipeline.run_tws_dedup(spark, sf_dir)


def test_tws_error_without_crash_signature_propagates(spark, sf_dir, monkeypatch):
    """Naming the TWS operator is not enough: an error from it that lacks
    the worker-crash signature (``exited unexpectedly`` / ``google.protobuf``)
    is a real state-api failure and must surface, not fall back."""

    def boom(*a, **k):
        raise RuntimeError(
            "Query terminated with exception: TransformWithStateInPySpark "
            "state schema mismatch for column 'seen'"
        )

    monkeypatch.setattr(pipeline, "_tws_dedup_state_api", boom)
    with pytest.raises(RuntimeError, match="state schema mismatch"):
        pipeline.run_tws_dedup(spark, sf_dir)


def test_tws_fallback_records_which_path_ran(spark, sf_dir, monkeypatch):
    """The forced-crash run warns with the original error text and leaves a
    PROGRESS_SINK record named after the fallback query."""

    def boom(*a, **k):
        raise RuntimeError(
            "TransformWithStateInPySpark: No module named 'google.protobuf'"
        )

    monkeypatch.setattr(pipeline, "_tws_dedup_state_api", boom)
    monkeypatch.setattr(pipeline, "PROGRESS_SINK", [])
    with pytest.warns(RuntimeWarning, match="No module named 'google.protobuf'"):
        pipeline.run_tws_dedup(spark, sf_dir)
    names = [rec["name"] for rec in pipeline.PROGRESS_SINK]
    assert len(names) == 1 and names[0].startswith("tws_dedup_fallback_")
