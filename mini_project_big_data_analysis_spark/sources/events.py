"""Events-table reader: ns-timestamp parquet handling + pushdown-preserving
time-range scans.

The driver's ``events.parquet`` stores ``ts`` as INT64 TIMESTAMP(NANOS).
How Spark surfaces that column depends on the runtime:

- newer readers infer it natively as TIMESTAMP_NTZ (nanos truncated to the
  µs the type carries — the same truncation DuckDB applies reading ns into
  its µs TIMESTAMP);
- older readers refuse it (PARQUET_TYPE_ILLEGAL) unless
  ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case the column
  arrives as a raw INT64 of nanoseconds.

``load_events`` adapts to whichever schema the runtime produces and always
returns ``ts`` as a proper µs TimestampType with identical values, so every
downstream query is runtime-agnostic. The stream readers take the same
probed schema and ``ts`` conversion (``stream_events``), so batch and
stream change session conf under the same single condition.

Pushdown: the time range is applied to the column AS THE SCAN PRODUCES IT
(long ns compared to long literals, or native timestamp compared to
timestamp literals) — never behind a conversion expression — so the
predicate reaches the parquet scan and prunes row groups. At 100 TB, with
ts-sorted/partitioned files, that is the difference between reading a day
and reading a decade.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _ts_ns_literal(ts: str) -> int:
    dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


#: (path, mtime_ns, size) → the schema the runtime's reader infers for that
#: file. The probe itself is a footer-inference pass (~100-150 ms of driver
#: time, round-17 measurement) that load_events used to pay ON EVERY CALL;
#: the runtime's answer for a given file can't change within a process, so
#: it is probed once and later reads pass the probed schema as is (footer
#: reads skipped). Keyed on mtime+size so a rewritten file re-probes. Caches
#: a SCHEMA, never data or file listings — every query still scans the
#: parquet.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def events_schema(spark: SparkSession, path: str) -> StructType:
    """The schema this runtime's reader gives the events file at ``path``,
    probing the footer only on first contact with a given file. A reader
    that refuses INT64(TIMESTAMP(NANOS)) (PARQUET_TYPE_ILLEGAL) gets
    ``nanosAsLong`` set on ``spark`` and a long ``ts``; that is the only
    case in which this writes conf. Any other error (a missing path, say)
    propagates with the session conf untouched."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, 0, 0)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        try:
            schema = spark.read.parquet(path).schema
        except AnalysisException as exc:
            if exc.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            spark.conf.set(_NANOS_CONF, "true")
            schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    elif isinstance(schema["ts"].dataType, LongType):
        # the cached schema came from the legacy fallback; a sibling session
        # created after the probe needs the conf too (session-scoped)
        spark.conf.set(_NANOS_CONF, "true")
    return schema


def ts_to_timestamp(raw: DataFrame, ts_type: DataType) -> DataFrame:
    """``raw`` with its scanned ``ts`` (of ``ts_type``, as ``events_schema``
    gives it) as a µs TimestampType: a long of nanoseconds is truncated to
    µs; NTZ wall time was written as UTC instants and the session runs in
    UTC (session.py), so the cast re-labels without shifting values."""
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type.typeName() != "timestamp":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _events_scan(spark: SparkSession, path: str):
    """The raw events scan and its runtime ``ts`` type."""
    schema = events_schema(spark, path)
    return spark.read.schema(schema).parquet(path), schema["ts"].dataType


def stream_events(spark: SparkSession, src_dir: str, schema_file: str, **options) -> DataFrame:
    """File-source stream over the events files in ``src_dir``, read the way
    ``load_events`` reads ``schema_file`` (same schema, same ``ts``
    conversion); ``options`` go to the stream reader."""
    schema = events_schema(spark, schema_file)
    raw = spark.readStream.schema(schema).options(**options).parquet(src_dir)
    return ts_to_timestamp(raw, schema["ts"].dataType)


def load_events(
    spark: SparkSession,
    sf_dir: str,
    ts_between: tuple[str, str] | None = None,
) -> DataFrame:
    """Events with ``ts`` as a proper µs TimestampType.

    ``ts_between=(lo, hi)`` (inclusive, "YYYY-MM-DD HH:MM:SS" UTC,
    whole-second bounds) is applied to the raw scan column so it reaches the
    parquet scan as a pushed filter / row-group prune.
    """
    raw, ts_type = _events_scan(spark, f"{sf_dir}/events.parquet")
    if ts_between is not None:
        lo, hi = ts_between
        if isinstance(ts_type, LongType):
            # µs-truncated ts ≤ hi ⟺ ns ts ≤ hi·10⁹ + 999 (whole-second
            # bounds), so the ns-side range is inclusive-equivalent to the
            # µs-side BETWEEN.
            bounds = F.lit(_ts_ns_literal(lo)), F.lit(_ts_ns_literal(hi) + 999)
        else:
            # Native timestamp read (TIMESTAMP_NTZ or TIMESTAMP): the reader
            # already truncated ns → µs, so whole-second bounds are
            # inclusive-equivalent.
            bounds = F.lit(lo).cast(ts_type), F.lit(hi).cast(ts_type)
        raw = raw.filter(F.col("ts").between(*bounds))
    return ts_to_timestamp(raw, ts_type)
