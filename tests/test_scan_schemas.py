"""Round-17 pins for the explicit scan schemas (no per-call footer
inference). The optimization is only sound while the explicit schemas are
byte-identical to what inference returns on the fixtures — these tests make
a fixture or declared-schema drift fail loudly instead of corrupting scans."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampType

from mini_project_big_data_analysis_spark.sources.events import (
    _NANOS_CONF,
    _SCHEMA_CACHE,
    _events_scan,
    load_events,
)
from mini_project_big_data_analysis_spark.sources.readers import (
    TABLES,
    read_table,
)


def test_scan_schemas_match_footer_inference(spark, sf_dir):
    for name in TABLES:
        if name == "events":
            continue  # separate probe-cache contract below
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        got = read_table(spark, sf_dir, name).schema
        assert got == inferred, f"{name}: explicit scan schema drifted from footer"


def test_events_probe_cache_is_schema_stable(spark, sf_dir):
    first = load_events(spark, sf_dir).schema
    assert _SCHEMA_CACHE, "probe cache not populated"
    second = load_events(spark, sf_dir).schema  # cached-schema path
    assert first == second
    # values identical through both paths: the cached-schema read must see
    # the same rows the inference read did
    a = load_events(spark, sf_dir)
    assert a.count() > 0


def test_events_probe_cache_keeps_probed_non_ts_fields(spark, tmp_path):
    """The cache holds the whole probed schema: a file whose non-``ts``
    field differs from ``schemas.EVENTS`` (``user_id`` as a string here)
    reads with that same schema on the cached path, not the declared one."""
    from mini_project_big_data_analysis_spark.schemas import EVENTS

    spark.sql(
        "SELECT 1L AS event_id, TIMESTAMP'2024-01-01 00:00:00' AS ts,"
        " 'u1' AS user_id, 'click' AS event_type, 1.5D AS value, '{}' AS props"
    ).write.parquet(str(tmp_path / "events.parquet"))
    assert EVENTS["user_id"].dataType.typeName() != "string"

    first = load_events(spark, str(tmp_path))
    second = load_events(spark, str(tmp_path))  # cached-schema path
    assert first.schema == second.schema
    assert second.schema["user_id"].dataType.typeName() == "string"
    assert second.collect() == first.collect()


@contextmanager
def _nanos_conf_unset(spark):
    saved = spark.conf.get(_NANOS_CONF, None)
    spark.conf.unset(_NANOS_CONF)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, saved)


def test_events_scan_missing_path_leaves_nanos_conf_unset(spark, tmp_path):
    """The nanos-as-long fallback is for PARQUET_TYPE_ILLEGAL only: a missing
    path raises PATH_NOT_FOUND and leaves the session-wide conf untouched."""
    with _nanos_conf_unset(spark):
        with pytest.raises(AnalysisException) as err:
            _events_scan(spark, str(tmp_path / "missing" / "events.parquet"))
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
    with _nanos_conf_unset(spark):
        _, ts_type = _events_scan(spark, str(tmp_path / "events.parquet"))
        assert isinstance(ts_type, LongType)
        assert spark.conf.get(_NANOS_CONF, None) == "true"
        df = load_events(spark, str(tmp_path))
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        micros = df.selectExpr("unix_micros(ts) AS us").collect()[0].us
        assert micros == ns // 1000
