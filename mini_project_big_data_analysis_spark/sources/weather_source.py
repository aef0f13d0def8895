"""Custom Python Data Source: the reference's REST-poll producer as a
first-class Spark source (PySpark 4 ``pyspark.sql.datasource`` API).

The reference's producer (reference producer.py:15-49) is an out-of-band
Python loop: GET one JSON weather doc per city, push to Kafka, sleep. Here
the same ingestion becomes a *source the engine plans*: ``spark.read.format
("weather_poll")`` — partition planning (one input partition per city, so a
16-city poll fans out to 16 parallel tasks), schema declared up front, and a
streaming variant whose offset log is the poll-cycle number (restart resumes
at the committed cycle — exactly the at-least-once gap the reference's
auto-commit consumer leaves open, consumer.py:21-23).

The container has no network, so the HTTP GET is replaced by a
deterministic synthetic observation generator (``_observe``) — the Spark
plumbing (DataSource registration, partition planning, offset management)
is the real thing, and determinism buys a byte-exact SQL oracle for the
batch path. Swapping ``_observe`` for ``requests.get(...).json()`` yields
the live source; the plumbing is unchanged.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

#: The reference's 16-city dimension (app.py:15-23) — default poll targets.
CITIES = [
    "city_%02d" % i for i in range(16)
]

SCHEMA_DDL = (
    "city string, cycle int, temperature double, humidity int, "
    "pressure int, dt long"
)


def _observe(city_idx: int, cycle: int) -> tuple:
    """Deterministic synthetic observation (network stand-in).

    Pure integer arithmetic so an ANSI-SQL oracle reproduces every value:
    temperature = 20 + ((7*idx + 31*cycle) % 150)/10, etc.
    """
    mix = 7 * city_idx + 31 * cycle
    return (
        CITIES[city_idx],
        cycle,
        20.0 + (mix % 150) / 10.0,
        40 + (mix * 3) % 55,
        990 + (mix * 5) % 40,
        1_700_000_000 + 300 * cycle + 2 * city_idx,
    )


class _CityPartition(InputPartition):
    def __init__(self, city_idx: int):
        self.city_idx = city_idx


class WeatherPollReader(DataSourceReader):
    """Batch read = one completed poll sweep over all cities for the
    requested cycles; planned as one partition per city."""

    def __init__(self, options):
        self.n_cycles = int(options.get("cycles", 10))

    def partitions(self):
        return [_CityPartition(i) for i in range(len(CITIES))]

    def read(self, partition: _CityPartition):
        for cycle in range(self.n_cycles):
            yield _observe(partition.city_idx, cycle)


class WeatherPollStreamReader(SimpleDataSourceStreamReader):
    """Streaming read: the offset is the poll-cycle number. Each micro-batch
    emits exactly one sweep (16 rows) and advances the offset — Spark
    checkpoints it, so a restart re-polls from the committed cycle instead
    of silently skipping to latest (the reference's restart data-loss mode).

    ``max_cycles`` bounds the stream (0 = unbounded, the live-poll shape):
    past the bound ``read`` stops advancing the offset, so a run to the end
    of the available data (``Trigger.AvailableNow``, or waiting until the
    query has caught up) sees a caught-up stream and finishes — without it
    the ever-advancing offset keeps such a run going forever.

    ``cycles_per_batch`` (default 1) is the per-trigger admission cap — the
    ``maxOffsetsPerTrigger`` knob of this source. 1 replays the producer's
    pacing (one sweep per micro-batch); a larger value lets a trigger CATCH
    UP on everything available, which is how an unthrottled Kafka source
    behaves when a consumer restarts behind the log. Round 16: each
    16-row micro-batch costs a full stateful-agg commit cycle, so the
    registered pipeline reads with catch-up batching; the paced shape
    stays the default and keeps its multi-batch coverage in
    stream_multibatch_agg and the source unit tests.
    """

    def __init__(self, options):
        self.max_cycles = int(options.get("max_cycles", 0))
        self.cycles_per_batch = int(options.get("cycles_per_batch", 1))

    def initialOffset(self) -> dict:
        return {"cycle": 0}

    def read(self, start: dict):
        cycle = start["cycle"]
        if self.max_cycles and cycle >= self.max_cycles:
            return iter([]), {"cycle": cycle}
        end = cycle + max(1, self.cycles_per_batch)
        if self.max_cycles:
            end = min(end, self.max_cycles)
        rows = iter(
            [
                _observe(i, c)
                for c in range(cycle, end)
                for i in range(len(CITIES))
            ]
        )
        return rows, {"cycle": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        for cycle in range(start["cycle"], end["cycle"]):
            for i in range(len(CITIES)):
                yield _observe(i, cycle)


class WeatherPollDataSource(DataSource):
    """``spark.read.format("weather_poll").option("cycles", N).load()``."""

    @classmethod
    def name(cls) -> str:
        return "weather_poll"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return WeatherPollReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return WeatherPollStreamReader(self.options)


def register_weather_source(spark) -> None:
    try:
        spark.dataSource.register(WeatherPollDataSource)
    except Exception as exc:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
        # Spark 4.1 inconsistency around newSession(): the registration
        # API's existence check sees a name registered by a SIBLING
        # session, but this session's own DataSourceManager (which the
        # analyzer consults at load()) does not have it. When that is the
        # case, register straight into this session's manager — the same
        # UserDefinedPythonDataSource the public API would have built.
        # Everything below touches pyspark/Spark internals that can move
        # between minor versions (ADVICE r16): if any is missing, re-raise
        # the ORIGINAL registration error with context instead of an
        # AttributeError from deep inside the workaround.
        try:
            mgr = spark._jsparkSession.sessionState().dataSourceManager()
            name = WeatherPollDataSource.name()
            if mgr.dataSourceExists(name):
                return  # genuinely registered here — same class, no-op
            from pyspark.sql.udf import _wrap_function

            sc = spark.sparkContext
            wrapped = _wrap_function(sc, WeatherPollDataSource)
            ds = getattr(
                sc._jvm,
                "org.apache.spark.sql.execution.datasources.v2.python."
                "UserDefinedPythonDataSource",
            )(wrapped)
            mgr.registerDataSource(name, ds)
        except Exception as inner:
            raise RuntimeError(
                "weather_poll registration failed and the sibling-session "
                "workaround could not run (pyspark internals moved?): "
                f"{type(inner).__name__}: {inner}"
            ) from exc
