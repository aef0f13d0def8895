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
downstream query is runtime-agnostic.

Pushdown: the time range is applied to the column AS THE SCAN PRODUCES IT
(long ns compared to long literals, or native timestamp compared to
timestamp literals) — never behind a conversion expression — so the
predicate reaches the parquet scan and prunes row groups. At 100 TB, with
ts-sorted/partitioned files, that is the difference between reading a day
and reading a decade.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


#: any epoch-µs value for 1973–5138 sits below this; any epoch-ns value for
#: dates after 1973 sits above it — so one row-local comparison tells the
#: two apart without a driver-side probe (streamable, codegen-friendly).
_NS_MAGNITUDE_FLOOR = 10**17


def raw_epoch_to_ts(col_name: str) -> F.Column:
    """INT64 event-time column of UNKNOWN unit (ns or µs) → µs TimestampType.

    Readers that surface the parquet INT64(TIMESTAMP(NANOS)) column through
    an explicit LongType schema get nanoseconds on legacy runtimes but
    µs-truncated values on newer ones (the reader truncates before applying
    the user schema). The magnitude test makes the conversion correct under
    both, including inside streaming plans where no driver probe can run.
    Integer ``div`` keeps the full 64-bit value (a float division would
    round the low bits of an ns epoch before truncation).
    """
    return F.expr(
        f"timestamp_micros(CASE WHEN {col_name} > {_NS_MAGNITUDE_FLOOR}"
        f" THEN {col_name} div 1000 ELSE {col_name} END)"
    )


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


def _events_scan(spark: SparkSession, path: str):
    """The raw events scan with its runtime ``ts`` type, probing the footer
    only on first contact with a given file."""
    import os

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, 0, 0)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        try:
            raw = spark.read.parquet(path)
            schema = raw.schema
        except AnalysisException as exc:
            # A reader that refuses INT64(TIMESTAMP(NANOS)) outright: fall
            # back to the nanos-as-long escape hatch and retry. Any other
            # error (a missing path, say) propagates with the session conf
            # untouched.
            if exc.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            spark.conf.set(_NANOS_CONF, "true")
            raw = spark.read.parquet(path)
            schema = raw.schema
        _SCHEMA_CACHE[key] = schema
        return raw, schema["ts"].dataType
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # the cached schema came from the legacy fallback; a sibling session
        # created after the probe needs the conf too (session-scoped)
        spark.conf.set(_NANOS_CONF, "true")
    return spark.read.schema(schema).parquet(path), ts_type


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
    raw, ts_type = _events_scan(spark, path)

    if isinstance(ts_type, LongType):
        if ts_between is not None:
            lo, hi = ts_between
            # µs-truncated ts ≤ hi ⟺ ns ts ≤ hi·10⁹ + 999 (whole-second
            # bounds), so the ns-side range is inclusive-equivalent to the
            # µs-side BETWEEN.
            raw = raw.filter(
                F.col("ts").between(
                    F.lit(_ts_ns_literal(lo)), F.lit(_ts_ns_literal(hi) + 999)
                )
            )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    # Native timestamp read (TIMESTAMP_NTZ or TIMESTAMP): the reader already
    # truncated ns → µs, so whole-second bounds are inclusive-equivalent.
    if ts_between is not None:
        lo, hi = ts_between
        raw = raw.filter(
            F.col("ts").between(
                F.lit(lo).cast(ts_type), F.lit(hi).cast(ts_type)
            )
        )
    if ts_type.typeName() != "timestamp":
        # NTZ wall time was written as UTC instants; the session runs in UTC
        # (session.py), so the cast re-labels without shifting values.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw
