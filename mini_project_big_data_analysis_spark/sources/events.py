"""Events-table reader: ``ts`` as a µs timestamp whatever the file stores,
plus pushdown-preserving time-range scans.

The scan schema comes from ``readers.scan_schema`` like every other table's.
The fixtures store ``ts`` as INT64 TIMESTAMP(MICROS) without UTC adjustment,
which Spark reads as TIMESTAMP_NTZ. A file that stores INT64
TIMESTAMP(NANOS) is read natively by newer readers (truncated to µs, as
DuckDB does) and refused by older ones unless ``nanosAsLong`` is set, in
which case ``ts`` arrives as a LONG of nanoseconds. ``ts_to_timestamp`` turns
each of these into a µs TimestampType with identical values, so every
downstream query is runtime-agnostic. ``load_events`` (batch) and
``stream_events`` (stream) share that schema and conversion, so both change
session conf under the same single condition.

Pushdown: the time range is applied to the column AS THE SCAN PRODUCES IT
(long ns compared to long literals, or native timestamp compared to
timestamp literals) — never behind a conversion expression — so the
predicate reaches the parquet scan and prunes row groups. At 100 TB, with
ts-sorted/partitioned files, that is the difference between reading a day
and reading a decade.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType

from .readers import scan_schema


def _ts_ns_literal(ts: str) -> int:
    dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def ts_to_timestamp(raw: DataFrame, ts_type: DataType) -> DataFrame:
    """``raw`` with its scanned ``ts`` (of ``ts_type``, as ``scan_schema``
    gives it) as a µs TimestampType: a long of nanoseconds is truncated to
    µs; NTZ wall time was written as UTC instants and the session runs in
    UTC (session.py), so the cast re-labels without shifting values."""
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type.typeName() != "timestamp":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_events(spark: SparkSession, src_dir: str, schema_file: str, **options) -> DataFrame:
    """File-source stream over the events files in ``src_dir``, read the way
    ``load_events`` reads ``schema_file`` (same schema, same ``ts``
    conversion); ``options`` go to the stream reader."""
    schema = scan_schema(spark, schema_file, "events")
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
    path = f"{sf_dir}/events.parquet"
    schema = scan_schema(spark, path, "events")
    raw, ts_type = spark.read.schema(schema).parquet(path), schema["ts"].dataType
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
