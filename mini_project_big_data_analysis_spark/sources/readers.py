"""Batch sources.

The reference's sources are a REST poll loop (producer.py:15-24) and a Kafka
consumer (consumer.py:18-25). In the batch engine both collapse to schema'd
scans; the streaming equivalents live in ``streaming/``.

Every table scan, batch or stream, takes its schema from ``scan_schema``:
the declared columns of ``schemas.py``, in declared order, each with the
type the file's own footer gives it. The footer is probed once per file
version (path, mtime, size) per process; every later read passes the
cached schema, so no read repeats the inference pass (at 100 TB a pass over
every footer is itself a job). The probe is checked against the declaration
under one rule:

- a column declared ``TimestampType`` may be TIMESTAMP or TIMESTAMP_NTZ in
  the footer (the TPC-H date columns of the fixtures are NTZ);
- the events ``ts`` may also be a LONG of nanoseconds, which is how a
  reader that refuses INT64 TIMESTAMP(NANOS) surfaces it under
  ``nanosAsLong`` (``sources/events.py`` converts it);
- every other column has exactly its declared type.

Anything else — a missing or renamed column, a changed type — raises before
the scan is built, naming the table, the column, the footer type and the
declared type, instead of reading as NULLs or failing inside a task.
Footer columns that are not declared are not scanned.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLE_SCHEMAS

TABLES = tuple(TABLE_SCHEMAS)

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: (path, mtime_ns, size) → (the schema the reader infers from that file's
#: footer, whether it was inferred under ``nanosAsLong``). Keyed on
#: mtime+size so a rewritten file re-probes. Caches a schema, never data or
#: file listings: every query still scans the parquet.
_FOOTERS: dict[tuple, tuple[T.StructType, bool]] = {}


def _footer(spark: SparkSession, path: str) -> tuple[T.StructType, bool]:
    """The footer schema of ``path``, probed on first contact with a given
    file version. A reader that refuses INT64 TIMESTAMP(NANOS)
    (PARQUET_TYPE_ILLEGAL) gets ``nanosAsLong`` set on ``spark`` and probes
    again; that is the only case in which this writes conf. Any other error
    (a missing path, say) propagates with the session conf untouched."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, 0, 0)
    if key not in _FOOTERS:
        try:
            footer = spark.read.parquet(path).schema
        except AnalysisException as exc:
            if exc.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            spark.conf.set(_NANOS_CONF, "true")
            footer = spark.read.parquet(path).schema
        _FOOTERS[key] = footer, spark.conf.get(_NANOS_CONF, "false") == "true"
    return _FOOTERS[key]


def _allowed(table: str, want: T.StructField, found: T.DataType, nanos: bool) -> bool:
    if found == want.dataType:
        return True
    if not isinstance(want.dataType, T.TimestampType):
        return False
    if isinstance(found, T.LongType):
        return nanos and (table, want.name) == ("events", "ts")
    return isinstance(found, T.TimestampNTZType)


def scan_schema(spark: SparkSession, path: str, table: str) -> T.StructType:
    """The schema to scan ``path`` with as the declared table ``table``: its
    ``schemas.py`` columns in declared order, with their footer types,
    checked under the module's rule. Raises ``ValueError`` on drift."""
    footer, nanos = _footer(spark, path)
    fields = []
    for want in TABLE_SCHEMAS[table].fields:
        found = footer[want.name] if want.name in footer.names else None
        if found is None or not _allowed(table, want, found.dataType, nanos):
            got = found.dataType.simpleString() if found else "not present"
            raise ValueError(
                f"{table} ({path}): column {want.name!r} is {got} in the footer,"
                f" declared {want.dataType.simpleString()}; footer columns: {footer.names}"
            )
        fields.append(found)
    if table == "events" and isinstance(footer["ts"].dataType, T.LongType):
        # a cached probe may come from another session; the conf is
        # session-scoped, and this one needs it to scan ns as a long too
        spark.conf.set(_NANOS_CONF, "true")
    return T.StructType(fields)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table (full-collection scan analog, app.py:35-36)
    with its checked scan schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    if name == "events":
        from .events import load_events

        return load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(scan_schema(spark, path, name)).parquet(path)


def read_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-source analog (consumer.py:18-25): events whose ``props``
    payload is a JSON string, parsed with an explicit schema into typed
    columns. PERMISSIVE semantics: malformed JSON → NULL struct, never a
    failed job (matches the consumer's json.JSONDecodeError fallback,
    consumer.py:38-41).
    """
    events = read_table(spark, sf_dir, "events")
    return events.withColumn(
        "props_parsed", F.from_json(F.col("props"), "k BIGINT")
    )
