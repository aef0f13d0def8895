"""Pins for the one scan-schema policy (``sources.readers.scan_schema``):
every table scans with its declared columns at their footer types, probed
once per file version, and a footer that drifts from ``schemas.py`` raises
from ``read_table`` / ``load_events`` naming the table, the column, the
footer type and the declared type."""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path

import pytest
from conftest import SF_BASE, SF_DIR
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampType

from mini_project_big_data_analysis_spark.record import _next_job_id
from mini_project_big_data_analysis_spark.sources.events import load_events
from mini_project_big_data_analysis_spark.sources.readers import (
    _FOOTERS,
    _NANOS_CONF,
    TABLES,
    read_table,
    scan_schema,
)

_PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench" / "fixtures"
_FIXTURE_DIRS = [
    d
    for d in (SF_DIR, f"{_PERFBENCH}/sf0.001", f"{_PERFBENCH}/sf0.01", f"{SF_BASE}/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize(
    "fixture_dir", _FIXTURE_DIRS, ids=lambda d: "/".join(d.split("/")[-2:])
)
def test_scan_schemas_match_footer_inference(spark, fixture_dir):
    for name in TABLES:
        path = f"{fixture_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert scan_schema(spark, path, name) == inferred, f"{name}: scan schema != footer"
        if name != "events":  # load_events converts ts; see its own tests
            assert read_table(spark, fixture_dir, name).schema == inferred, name


def test_events_probe_cache_is_schema_stable(spark, sf_dir):
    first = load_events(spark, sf_dir).schema
    assert _FOOTERS, "probe cache not populated"
    second = load_events(spark, sf_dir).schema  # cached-schema path
    assert first == second
    assert load_events(spark, sf_dir).count() > 0


def _jobs(spark, fn):
    sc = spark.sparkContext._jsc.sc()
    first = _next_job_id(sc)
    fn()
    return _next_job_id(sc) - first


def test_second_read_of_an_unchanged_file_starts_no_job(spark, tmp_path):
    """The footer probe is a job; the cache makes it a once-per-file cost."""
    spark.sql(
        "SELECT 1L AS c_custkey, 'a' AS c_name, 2 AS c_nationkey,"
        " 1.5D AS c_acctbal, 'm' AS c_mktsegment"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    assert _jobs(spark, lambda: read_table(spark, str(tmp_path), "customer")) >= 1
    assert _jobs(spark, lambda: read_table(spark, str(tmp_path), "customer")) == 0


def _drift(spark, tmp_path, table: str, select: str) -> str:
    spark.sql(f"SELECT {select}").write.mode("overwrite").parquet(
        str(tmp_path / f"{table}.parquet")
    )
    with pytest.raises(ValueError) as err:
        read_table(spark, str(tmp_path), table)
    msg = str(err.value)
    assert msg.startswith(f"{table} ("), msg
    return msg


def test_renamed_column_raises_naming_it(spark, tmp_path):
    msg = _drift(
        spark, tmp_path, "documents",
        "1L AS doc_id, 't' AS text, 'en' AS lang, 's' AS source, 5L AS n_tokens",
    )
    assert "'n_chars' is not present in the footer, declared bigint" in msg, msg
    assert "n_tokens" in msg, msg


def test_missing_column_raises(spark, tmp_path):
    msg = _drift(
        spark, tmp_path, "documents",
        "1L AS doc_id, 't' AS text, 'en' AS lang, 5L AS n_chars",
    )
    assert "'source' is not present in the footer, declared string" in msg, msg


def test_changed_type_raises_after_a_clean_read_of_the_same_path(spark, tmp_path):
    """``c_custkey`` rewritten as INT: the cache is keyed on the file
    version, so the rewrite is probed and caught, not read through."""
    cols = "'a' AS c_name, 2 AS c_nationkey, 1.5D AS c_acctbal, 'm' AS c_mktsegment"
    spark.sql(f"SELECT 1L AS c_custkey, {cols}").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    assert read_table(spark, str(tmp_path), "customer").count() == 1
    msg = _drift(spark, tmp_path, "customer", f"1 AS c_custkey, {cols}")
    assert "'c_custkey' is int in the footer, declared bigint" in msg, msg


def test_ltz_orderdate_reads_as_timestamp(spark, tmp_path):
    """A TIMESTAMP (LTZ) date column keeps its footer type: it is not
    relabelled as the fixtures' NTZ."""
    spark.sql(
        "SELECT 1L AS o_orderkey, 2L AS o_custkey, 'O' AS o_orderstatus,"
        " 3.5D AS o_totalprice, TIMESTAMP'1995-03-15 00:00:00' AS o_orderdate,"
        " '1-URGENT' AS o_orderpriority"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    df = read_table(spark, str(tmp_path), "orders")
    assert isinstance(df.schema["o_orderdate"].dataType, TimestampType)
    assert str(df.collect()[0].o_orderdate) == "1995-03-15 00:00:00"


@contextmanager
def _nanos_conf(spark, value: str | None):
    saved = spark.conf.get(_NANOS_CONF, None)

    def put(v):
        if v is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, v)

    put(value)
    try:
        yield
    finally:
        put(saved)


def test_long_orderdate_raises_even_under_nanos_as_long(spark, tmp_path):
    """Only the events ``ts`` may arrive as a LONG."""
    with _nanos_conf(spark, "true"):
        msg = _drift(
            spark, tmp_path, "orders",
            "1L AS o_orderkey, 2L AS o_custkey, 'O' AS o_orderstatus,"
            " 3.5D AS o_totalprice, 795225600000000000L AS o_orderdate,"
            " '1-URGENT' AS o_orderpriority",
        )
    assert "'o_orderdate' is bigint in the footer, declared timestamp" in msg, msg


def test_events_changed_non_ts_type_raises(spark, tmp_path):
    """A ``user_id`` written as a string is refused by name, not read
    through with the footer's type."""
    spark.sql(
        "SELECT 1L AS event_id, TIMESTAMP'2024-01-01 00:00:00' AS ts,"
        " 'u1' AS user_id, 'click' AS event_type, 1.5D AS value, '{}' AS props"
    ).write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError) as err:
        load_events(spark, str(tmp_path))
    msg = str(err.value)
    assert msg.startswith("events ("), msg
    assert "'user_id' is string in the footer, declared bigint" in msg, msg


def test_events_scan_missing_path_leaves_nanos_conf_unset(spark, tmp_path):
    """The nanos-as-long fallback is for PARQUET_TYPE_ILLEGAL only: a missing
    path raises PATH_NOT_FOUND and leaves the session-wide conf untouched."""
    with _nanos_conf(spark, None):
        with pytest.raises(AnalysisException) as err:
            load_events(spark, str(tmp_path / "missing"))
        assert err.value.getCondition() == "PATH_NOT_FOUND"
        assert spark.conf.get(_NANOS_CONF, None) is None


def test_events_scan_nanos_file_takes_the_fallback(spark, tmp_path):
    """A reader that refuses INT64(TIMESTAMP(NANOS)) still loads the file
    through the fallback, and ``load_events`` truncates ns to µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ns], pa.timestamp("ns")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": ["click"],
            "value": [1.5],
            "props": ["{}"],
        }),
        str(tmp_path / "events.parquet"),
    )
    with _nanos_conf(spark, None):
        ts_type = scan_schema(spark, str(tmp_path / "events.parquet"), "events")["ts"].dataType
        assert isinstance(ts_type, LongType)
        assert spark.conf.get(_NANOS_CONF, None) == "true"
        df = load_events(spark, str(tmp_path))
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        micros = df.selectExpr("unix_micros(ts) AS us").collect()[0].us
        assert micros == ns // 1000
