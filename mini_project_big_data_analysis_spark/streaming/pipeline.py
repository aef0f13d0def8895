"""Structured Streaming pipelines (SURVEY.md §2.8, §7 step 4).

The reference's stream is Kafka→clean→Mongo with at-least-once semantics and
no event-time handling (consumer.py:21-23: auto-commit, latest offsets, no
watermark). Here:

- source offsets are checkpointed and every sink is exactly-once on replay:
  append runs write Spark's parquet file sink, whose ``_spark_metadata`` log
  records each committed batch and skips a replayed one;
- ``withWatermark`` on event time bounds state under late/out-of-order
  arrivals;
- tumbling-window aggregation replaces the dashboard's full-rescan-every-5-
  minutes recompute loop (app.py:80-84,101) with incremental state.

Tests drive these with file-source streams over the driver's events parquet
(Kafka isn't in the container); the DataFrame graph is source-agnostic — the
same ``clean_event_stream``/``tumbling_agg`` compose onto
``spark.readStream.format("kafka")`` unchanged.

One run harness. Every runner builds only its DataFrame graph (and, for a
parquet sink, the sink's DDL) on its own ``_stream_session`` clone of the
caller's session and hands it to ``_run_stream``, which owns
everything else: the query name (the run directory's basename), the
checkpoint at ``run_dir/ck``, ``Trigger.AvailableNow``, the sink, the
completion wait bounded by ``STREAM_BUDGET_S``, the ``PROGRESS_SINK``
capture and the read-back. AvailableNow honours ``maxFilesPerTrigger``, so
the paced multi-batch runners (arrival files from ``_arrival_stream``, one
file per micro-batch) finish on the same path as the single-batch ones.

Scratch lifetime. Run directories come from ``scratch.scratch_dir`` and live
under the process's one scratch root, which is removed when the interpreter
exits (and swept by the next process if this one was killed). Nothing is
removed per run: the returned frames read their sinks lazily.
"""
from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import scratch_dir
from ..session import provision
from ..sources.events import stream_events


#: What the consumer's JSON value deserializer (consumer.py:24) yields per
#: Kafka message, as a from_json schema. ``ts_ms`` carries event time on the
#: wire (epoch millis — JSON has no timestamp type); decode restores a
#: proper TimestampType so the decoded frame is column-identical to
#: ``read_events_stream`` output and the whole downstream graph composes.
KAFKA_EVENT_JSON = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, "
    "props STRING, ts_ms BIGINT"
)

#: The kafka source's fixed wire schema (spark-sql-kafka contract) — tests
#: construct batch frames of this shape to exercise the decode path without
#: a broker.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT"
)

#: Sink DDL of the cleaned-event runners (clean sink, fan-out, dedup).
CLEAN_DDL = "event_id long, user_id long, event_type string, value double"


#: Per-query completion budget for the availableNow runners, seconds.
#: Overridable for large-fixture runs (the sf100 differential tier drives
#: 100M events through the Python stateful operators — legitimately past
#: the 5-minute dev-loop default).
STREAM_BUDGET_S = float(os.environ.get("SPARK_GRAFT_STREAM_BUDGET_S", "300"))


#: When a list, every completed streaming run appends one record per query
#: here: ``{"query_id", "name", "progress"}``, the last being the
#: per-micro-batch progress (``record.run_query`` sets it for each run it
#: records and summarizes it into the record's ``stream`` — rows in state,
#: watermark evictions, state memory — without touching the pipelines
#: themselves; the state audit reads that summary). ``name`` says
#: which path ran (e.g. ``tws_dedup_<hex>`` or ``tws_dedup_fallback_<hex>``).
#: None (the default) is free: production runs never pay for collection.
#: NOTE: ``q.recentProgress`` retains only the LAST
#: ``spark.sql.streaming.numRecentProgressUpdates`` records (default
#: 100) — not the full history. ``_capture_progress`` fails loudly when
#: a capture lands at that cap (silent truncation would under-count a
#: large fixture's input/state/eviction totals); the audit script raises
#: the cap in its own session before running.
PROGRESS_SINK: list | None = None


#: Target input bytes per streaming state partition (the AQE advisory-size
#: idea applied to the one shuffle AQE cannot touch — streaming state).
#: Stateful operators create one state-store instance PER shuffle partition
#: PER micro-batch, and each instance pays a fixed commit cost (delta file
#: write + fsync + maintenance bookkeeping) regardless of how few keys it
#: holds. Round-16 measurement at sf0.1 (plans/r16/*_before.txt): every
#: stateful stream ran with numShufflePartitions=32, and per-batch
#: commitTimeMs summed to 30-180 s across instances for micro-batches of
#: 16-200k rows — the commit overhead, not the aggregation, dominated every
#: stateful id. Deriving the partition count from the stream's input size
#: (floor 4, capped at the session default so a cluster-sized conf still
#: wins at scale) keeps the same plan shape at every scale factor while
#: sizing the fixed overhead to the data.
STREAM_TARGET_BYTES_PER_PARTITION = 32 << 20


#: Partition floors by stateful-operator kind, both measured in the round-16
#: sweep at sf0.1 (OPTIMIZATION_r16.md): pure-JVM state operators (windowed
#: aggs, dedup, stream-stream join, session windows) bottom out at 4
#: (ssjoin best-of-2: 2.85 s @4 / 4.57 @16 / 9.23 @32 — per-instance commit
#: cost dominates); Python stateful operators (applyInPandasWithState /
#: transformWithStateInPandas) carry data-grain pandas work whose wall time
#: parallelizes across partitions, so their floor is 16 (tws_dedup: 9.60 @4 /
#: 5.49 @16 / 12.64 @32). Floors only bind at small inputs — the byte-derived
#: count and the session default take over at scale.
STREAM_FLOOR_JVM_STATE = 4
STREAM_FLOOR_PYTHON_STATE = 16


#: The checkpoint file manager of every streaming run. Spark's default on
#: ``file:`` is the FileContext one, whose rename goes through
#: ``RawLocalFileSystem.getFileLinkStatus``; without native ``libhadoop``
#: (the Hadoop client bundled with pyspark has none) that starts a
#: ``readlink`` process twice per rename of every offset, commit, metadata
#: and state-delta file. On a local path this manager's rename is the same
#: check-then-``FileSystem.rename``, so it gives up no atomicity and starts
#: no process.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _stream_session(
    spark: SparkSession,
    est_input_bytes: int,
    floor: int = STREAM_FLOOR_JVM_STATE,
) -> SparkSession:
    """The session ONE streaming run starts on: an owned clone of ``spark``
    that differs from it in two keys. Every runner builds its graph on it,
    so nothing a run sets (``nanosAsLong``, a registered data source, a
    memory sink's temp view) reaches the caller's session.

    - ``spark.sql.shuffle.partitions`` (= the stateful operators'
      state-store partition count, recorded in the checkpoint at the first
      batch) is sized to the stream's input instead of the batch default:
      ``ceil(est_input_bytes / STREAM_TARGET_BYTES_PER_PARTITION)`` clamped
      to ``[floor, session default]``. State-store partitioning is only
      configurable through this key, and set/restore on the shared session
      would race concurrent catalog queries (tests/test_concurrency.py).
    - ``spark.sql.streaming.checkpointFileManagerClass`` is
      ``CHECKPOINT_FILE_MANAGER``. Measured on a 3-id ``ingest`` pass
      (JFR ``jdk.ProcessStart``, 4 vCPUs): 393-407 processes started, 200
      of them ``readlink`` from the default manager's renames, at about
      2.4 ms CPU each; this manager starts none. Checkpoint checksums and
      Hadoop's ``.crc`` files stay on.

    ``cloneSession()`` shares the SparkContext and cache and copies the
    caller's whole session state in one JVM call: its runtime conf
    (timezone, Arrow, retention caps, ``spark.hadoop.*`` and custom keys,
    possibly set by ``session.provision`` on a driver's own session), temp
    views and registered functions. Nothing is copied key by key, so a
    static or core key raises nothing. A fresh clone per run, not one
    cached per caller: a cache would hold a stale conf and collect every
    run's memory-sink views, and it measured no faster."""
    n_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = min(
        n_default,
        max(floor, -(-int(est_input_bytes) // STREAM_TARGET_BYTES_PER_PARTITION)),
    )
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    child.conf.set("spark.sql.shuffle.partitions", str(n))
    child.conf.set(
        "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
    )
    return child


def _events_bytes(sf_dir: str) -> int:
    """Size of the events source — the input-volume estimate the
    state-partition derivation uses (0 when absent: floor applies).

    ``events.parquet`` may be a single file (the test fixtures) or a
    directory of part files (standard Spark output at scale); getsize on a
    directory returns the inode size (~4 KiB), which would silently pin the
    floor partition count at any scale (ADVICE r16) — so directories are
    summed file-by-file."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def _capture_progress(q, spark: SparkSession) -> None:
    """Append ``q``'s name and micro-batch progress to PROGRESS_SINK (no-op
    when the sink is None). Raises if the capture is truncated at Spark's
    ``numRecentProgressUpdates`` retention cap — a capped capture means
    the earliest batches' metrics are already gone and every total the
    state audit derives from them would be silently wrong (ADVICE r13).

    ``spark`` is the session that STARTED ``q`` — the retention cap in
    effect for ``q.recentProgress`` lives there, not in whatever
    ``getActiveSession()`` resolves on the calling thread; the previous
    active-session lookup could fall back to the 100 default and falsely
    raise on an audit run that had already lifted the cap (ADVICE r14)."""
    if PROGRESS_SINK is None:
        return
    prog = list(q.recentProgress)
    cap = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100"))
    if len(prog) >= cap:
        raise RuntimeError(
            f"progress capture for streaming query {q.name or q.id} hit the "
            f"retention cap ({len(prog)} >= numRecentProgressUpdates={cap}): "
            "earlier micro-batches are already evicted and the state audit "
            "would under-count; raise "
            "spark.sql.streaming.numRecentProgressUpdates above the "
            "fixture's micro-batch count"
        )
    PROGRESS_SINK.append({"query_id": str(q.id), "name": q.name, "progress": prog})


def _read_sink_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """Read a parquet sink back with its declared ``ddl`` schema, or an
    empty frame of that schema when no batch created ``path``. A file sink
    is read through its ``_spark_metadata`` log, so only committed files
    count; the select drops the ``batch_id`` partition column of the
    fan-out sinks."""
    schema = T.StructType.fromDDL(ddl)
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path).select(*schema.fieldNames())


def _run_stream(
    spark: SparkSession,
    df: DataFrame,
    run_dir: str,
    *,
    mode: str = "append",
    sink="memory",
) -> DataFrame | None:
    """Run the streaming ``df`` to completion and return what it wrote —
    the one place a streaming query starts.

    The query is named after ``run_dir``'s basename, checkpoints to
    ``run_dir/ck`` and runs with ``Trigger.AvailableNow`` (everything
    available, honouring the source's per-trigger limits, then stop).
    ``sink`` is one of:

    - ``"memory"``: an in-memory table, returned as ``spark.table(name)``
      — for results bounded by key cardinality, not by data volume;
    - a DDL string: parquet under ``run_dir/sink``, read back through
      ``_read_sink_or_empty`` with that DDL. In ``append`` mode this is
      Spark's file sink, exactly-once through its ``_spark_metadata`` log;
      the file sink refuses ``complete`` mode, so there each trigger
      overwrites the whole directory from ``foreachBatch``;
    - a ``foreachBatch`` callable (fan-out, upsert): returns None and the
      caller reads its own output.

    Completion is bounded by ``STREAM_BUDGET_S`` and fails loudly when the
    budget runs out, so no caller reads a partial sink as the final answer.
    Stopping the query on timeout keeps the session reusable for the
    caller's error handling."""
    name = os.path.basename(run_dir)
    path = os.path.join(run_dir, "sink")
    writer = (
        df.writeStream.queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(run_dir, "ck"))
        .trigger(availableNow=True)
    )
    if sink == "memory":
        writer = writer.format("memory")
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    elif mode == "complete":
        writer = writer.foreachBatch(
            lambda batch_df, _id: batch_df.write.mode("overwrite").parquet(path)
        )
    else:
        writer = writer.format("parquet").option("path", path)
    q = writer.start()
    if not q.awaitTermination(STREAM_BUDGET_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {name} still running after "
            f"{STREAM_BUDGET_S:.0f}s; raise SPARK_GRAFT_STREAM_BUDGET_S for "
            "large fixtures instead of reading a partial sink"
        )
    _capture_progress(q, spark)
    if sink == "memory":
        return spark.table(name)
    if callable(sink):
        return None
    return _read_sink_or_empty(spark, path, sink)


def _arrival_stream(spark: SparkSession, run_dir: str, pieces: list) -> DataFrame:
    """A stream that delivers ``pieces`` one micro-batch each, in order.

    Each piece becomes one time-ordered parquet file (``run_dir/in/00.parquet``,
    ``01.parquet``, … with ascending mtimes — the arrival order
    ``maxFilesPerTrigger=1`` replays), all written in ONE Spark job: each
    piece is tagged and the tagged union is written once with
    ``partitionBy`` (hash repartition on the literal tag maps a tag to one
    partition, so each piece directory holds exactly one part file). The
    round-15 shape wrote each piece with its own ``coalesce(1)`` job — N
    scans of the source and N sequential single-task jobs before the stream
    even started. A piece with no rows produces no directory under dynamic
    partitioning, so that piece gets an explicitly written empty file and
    the stream sees the identical batch sequence (scripts/empty_sweep.py
    pins the zero-row fixture)."""
    import glob
    import shutil
    import time as _time

    indir = os.path.join(run_dir, "in")
    os.makedirs(indir)
    tagged = None
    for i, piece in enumerate(pieces):
        t = piece.withColumn("__piece", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    tmp = os.path.join(run_dir, "tmp")
    (
        tagged.repartition(len(pieces), "__piece")
        .write.mode("overwrite")
        .partitionBy("__piece")
        .parquet(tmp)
    )
    now = _time.time()
    for i, piece in enumerate(pieces):
        parts = glob.glob(os.path.join(tmp, f"__piece={i}", "part-*.parquet"))
        dst = os.path.join(indir, f"{i:02d}.parquet")
        if not parts:  # empty piece: write its empty file explicitly
            empty_tmp = os.path.join(tmp, f"empty_{i}")
            piece.limit(0).coalesce(1).write.parquet(empty_tmp)
            parts = glob.glob(os.path.join(empty_tmp, "part-*.parquet"))
        shutil.move(parts[0], dst)
        os.utime(dst, (now - 500 + i * 100,) * 2)  # mtime = arrival order
    shutil.rmtree(tmp)
    return (
        spark.readStream.schema(pieces[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )


#: Sink DDL of the keyed arrival-file runners (late filter, TWS dedup).
ARRIVAL_DDL = "event_id long, user_id long, ts timestamp, value double"


def _arrival_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event rows the keyed arrival-file runners replay: id, event time,
    user and value of every event with a value and an event time."""
    from ..sources.readers import read_table

    return (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "value")
    )


def _ts_as_string(df: DataFrame) -> DataFrame:
    """An ``ARRIVAL_DDL`` sink read back with ``ts`` formatted as ``ts_s``
    (codegen'd ``date_format`` here rather than per-row pandas strftime
    inside the stateful operators)."""
    return df.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
    )


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire records (binary key/value + metadata) → typed event rows:
    the consumer's JSON deserializer (consumer.py:24) as engine code.

    Takes ANY frame with the kafka wire schema — the `readStream
    .format("kafka")` source, or a literal batch frame in tests — so the
    broker swap is proven to be configuration, not code: everything after
    ``load()`` is this function plus the same ``clean_event_stream`` /
    ``tumbling_agg`` graph the file-source pipeline uses."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), KAFKA_EVENT_JSON).alias("e")
    )
    return (
        parsed.select("e.*")
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .drop("ts_ms")
        .select("event_id", "user_id", "event_type", "value", "props", "ts")
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """The reference's Kafka consumer (consumer.py:18-25) as source config:
    subscribe + offsets are options, the value codec is
    ``decode_kafka_events``, and the downstream clean/window graph is shared
    with the file-source pipeline verbatim. Needs
    ``org.apache.spark:spark-sql-kafka-0-10_2.13`` on the cluster classpath
    (not bundled with pyspark; absent in this container — the decode path
    is covered by wire-schema tests instead)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_kafka_events(raw)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events table (Kafka stand-in).

    ``maxFilesPerTrigger`` is left default. The schema (streaming file
    sources require one) and the ``ts`` conversion are the batch reader's
    (``sources.events.stream_events``), so the read writes no conf unless the
    runtime refuses the file's timestamp type.
    """
    return stream_events(
        spark, sf_dir, f"{sf_dir}/events.parquet", pathGlobFilter="events.parquet"
    )


def clean_event_stream(stream: DataFrame) -> DataFrame:
    """The consumer's clean/derive step (consumer.py:32-61) on a stream:
    typed JSON props, completeness filter, event-time column. Narrow ops
    only — stateless, no shuffle."""
    return (
        stream.withColumn("props_parsed", F.from_json("props", "k BIGINT"))
        .filter(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .withColumn("event_time", F.col("ts"))
    )


def tumbling_agg(
    clean: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window aggregate with watermark (SURVEY.md §2.8
    stream_tumbling_agg): per (window, event_type) mean/min/max/count of
    value. State is bounded by the watermark; output mode append emits a
    window once the watermark passes it."""
    return (
        clean.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration), F.col("event_type"))
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "avg_value",
            "min_value",
            "max_value",
            "n_events",
        )
    )


def run_tumbling_agg_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the streaming tumbling agg to completion over the static
    events table (Trigger.AvailableNow → process everything, then stop) and
    return the materialized result.

    Real streaming machinery end-to-end: file source, watermark state,
    memory sink, checkpointed progress. ``complete`` output mode so windows
    never wait on a watermark that will not advance after the last file.

    Scale caveat: a complete-mode memory sink materializes the WHOLE result
    on the driver every trigger — bounded here (one row per (window, type):
    tens of rows for the 16-city weather shape and the fixture event types),
    but at real result cardinality the production form is ``append`` mode
    (watermark-expired windows only) into the parquet file sink, which keeps
    emission executor-side; the upstream agg/state graph is unchanged.
    """
    spark = _stream_session(spark, _events_bytes(sf_dir))
    agg = tumbling_agg(clean_event_stream(read_events_stream(spark, sf_dir)))
    return _run_stream(spark, agg, scratch_dir("tumbling"), mode="complete")


def run_clean_to_parquet_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer's full pipeline (consumer.py:29-78) as Structured
    Streaming into Spark's parquet file sink: source offsets are
    checkpointed and the sink's ``_spark_metadata`` log records each
    committed batch, so a batch replayed after a partial write + restart
    (the reference's at-least-once failure mode) is skipped instead of
    appended twice — the reference's insert_one loop made exactly-once.
    Returns a scan of the sink, which must equal the batch-cleaned table
    (the oracle checks exactly that).
    """
    spark = _stream_session(spark, _events_bytes(sf_dir))
    cleaned = clean_event_stream(read_events_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_stream(spark, cleaned, scratch_dir("sink"), sink=CLEAN_DDL)


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the dashboard's dimension enrichment (app.py:46
    ``get_pulau`` lookup) applied IN-stream — each micro-batch broadcast-
    joins the static user→nation dim, so enrichment happens at ingest
    instead of per dashboard refresh.

    The static side is planned once and broadcast to every micro-batch
    (stateless join, append mode, no watermark needed); at 100 TB of stream
    the dim is still broadcast-sized — the same plan shape. STRONG oracle:
    the enriched sink must equal the batch left-join over the same tables.
    """
    from ..sources.readers import read_table

    spark = _stream_session(spark, _events_bytes(sf_dir))
    stream = clean_event_stream(read_events_stream(spark, sf_dir))
    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).select("user_id", "n_name")
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce("n_name", F.lit("unknown")).alias("nation"),
    )
    # Enriched rows grow with the stream: parquet file sink, not the
    # memory sink, which holds the whole result in one heap.
    return _run_stream(
        spark,
        enriched,
        scratch_dir("enrich"),
        sink="event_id long, user_id long, event_type string, nation string",
    )


def run_fanout_sinks_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, two sinks, one pass: each micro-batch is persisted once
    inside foreachBatch and written to BOTH destinations (the raw archive
    and the serving copy — the standard fan-out a pipeline needs when a
    topic feeds multiple consumers), then unpersisted. Without the persist
    the second write would re-execute the whole batch plan; with it the
    batch computes once however many sinks are added.

    Each sink is independently idempotent: a batch overwrites its own
    ``batch_id=N`` directory, so a replayed batch rewrites both
    destinations instead of duplicating either. Returns both sinks' contents tagged by sink id — the STRONG
    oracle checks each equals the batch-cleaned table (a lost or doubled
    batch in EITHER sink breaks the hash)."""
    spark = _stream_session(spark, _events_bytes(sf_dir))
    run_dir = scratch_dir("fanout")
    paths = {s: os.path.join(run_dir, s) for s in ("archive", "serving")}
    cleaned = clean_event_stream(read_events_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type", "value"
    )

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for path in paths.values():
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(path, f"batch_id={batch_id}")
                )
        finally:
            batch_df.unpersist()

    _run_stream(spark, cleaned, run_dir, sink=write_both)
    a, b = (
        _read_sink_or_empty(spark, path, CLEAN_DDL).withColumn("sink", F.lit(s))
        for s, path in paths.items()
    )
    return a.unionByName(b)


def run_stream_dedup_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup to completion, proven against a REAL
    duplicate delivery: every source file is delivered twice (the
    reference's at-least-once failure mode — a replay after restart,
    consumer.py:21-23), and watermarked ``dropDuplicatesWithinWatermark`` on the unique
    ``event_id`` keeps one state entry per key so the second delivery never
    reaches the sink.

    Because ``event_id`` is unique in the single-delivery table and both
    deliveries carry identical payloads, the sink is deterministic: it must
    equal the batch-cleaned single-delivery table EXACTLY — a strong DuckDB
    oracle (one surviving duplicate, or one over-evicted key, breaks the
    hash), not a rows-only check.

    The watermark bounds state: at 100 TB-scale ingest, keys older than the
    watermark are evicted instead of accumulating forever (the replay
    window a real pipeline must tolerate is bounded by checkpoint cadence,
    well inside the watermark). That requires ``dropDuplicatesWithinWatermark``
    — plain ``dropDuplicates`` on a key subset WITHOUT the event-time column
    never evicts, whatever the watermark says (measured round 9: peak state
    = the full 10M-key domain at sf10 under paced delivery; the
    within-watermark form pegs it at keys-per-horizon —
    tests/test_sf10_invariants.py).

    PRECONDITION — max tolerated event-time skew (ADVICE r9): eviction cuts
    both ways. ``dropDuplicatesWithinWatermark`` drops a FIRST delivery as
    late data if its event time lags more than the watermark delay (1 hour
    here) behind the max event time already observed, losing the key from
    the sink entirely — plain ``dropDuplicates`` only ever lost STATE, never
    data. So the delay must be ≥ the source's worst out-of-order skew
    WITHIN a delivery, not just the replay window between deliveries. This
    harness satisfies it because the deliveries are byte-identical: each
    replayed row carries the SAME event time as the state entry it must
    match, so a key already evicted (state-ts < watermark) has its replay
    equally late (row-ts = state-ts < watermark) and is dropped as late
    data rather than re-emitted, while a key still in state suppresses the
    replay as a duplicate — exact either way, however availableNow splits
    the deliveries into batches (the round-12 state audit measured Spark
    4.1.2 planning them as TWO micro-batches, one per file, with state
    evicted down to the keys-in-horizon between them: peak 10,000 → end 29
    at sf0.01 — scripts/audit_stream_state.py). The oracle enforces it:
    the sink must hash-equal the batch-cleaned single-delivery table, so a
    silently dropped key or a surviving duplicate fails the compare.
    """
    import shutil

    spark = _stream_session(spark, 2 * _events_bytes(sf_dir))
    run_dir = scratch_dir("dedup")
    delivery = os.path.join(run_dir, "in")
    os.makedirs(delivery)
    src = os.path.join(sf_dir, "events.parquet")
    # Two byte-identical deliveries of the same upstream data. availableNow
    # may batch them together or per-file (4.1.2 measured: one batch per
    # file); identical event times make the dedup exact either way — see
    # the docstring's skew precondition.
    shutil.copy(src, os.path.join(delivery, "delivery_a.parquet"))
    shutil.copy(src, os.path.join(delivery, "delivery_b.parquet"))

    stream = clean_event_stream(stream_events(spark, delivery, src))
    deduped = (
        stream.withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    # Deduped rows grow with the stream: parquet file sink, not the
    # memory sink, which holds the whole result in one heap.
    return _run_stream(spark, deduped, run_dir, sink=CLEAN_DDL)


def run_stateful_running_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-``event_type`` running count/sum/min/max maintained in explicit
    keyed state across micro-batches (the operator Spark's built-in
    windowed aggs can't express — state the USER defines and carries
    forward, SURVEY.md §2.8 stateful ops).

    Each micro-batch the group emits its updated running totals; the
    returned DataFrame keeps only each key's FINAL emission (largest
    ``n_events``), which — because the running totals over the whole stream
    equal the global aggregate — gives this stateful operator a STRONG
    DuckDB oracle, batching-schedule-independent by construction.

    State is one fixed-width tuple per key: bounded by key cardinality,
    checkpointed with the query, mergeable across restarts — the 100 TB
    posture is per-key state on the shuffle partition owning the key,
    exactly how transformWithState scales.

    MAP-SIDE COMBINE before the keyed state op (round 11, found at the
    sf100 tier): the state runner ships each key's ENTIRE batch group to
    one Python worker through a single grow-by-copy direct buffer, so a
    low-cardinality key (a handful of event types over 100M rows) is both
    parallelism-bound and quadratic in buffer growth — the run sat at 290%
    CPU in DirectByteBufferOutputStream.grow for over an hour. A stateless
    ``mapInPandas`` partial aggregate per Arrow chunk (count/sum/min/max
    are associative) shrinks what crosses the shuffle to one row per
    (scan chunk, key), and the state op merges partials — semantics
    identical, the sf100 run drops to minutes. This is the same rule as
    batch map-side combine: never shuffle raw rows into a keyed state op
    when the state update is an associative fold.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def partials(pdfs):
        for pdf in pdfs:
            rows = pdf.dropna(subset=["value"])
            if not len(rows):
                continue
            g = rows.groupby("event_type")["value"].agg(
                ["count", "sum", "min", "max"]
            )
            yield pd.DataFrame(
                {
                    "event_type": g.index,
                    "pn": g["count"].astype("int64"),
                    "ps": g["sum"],
                    "pmn": g["min"],
                    "pmx": g["max"],
                }
            )

    def update(key, pdfs, state: GroupState):
        n, s, mn, mx = state.get if state.exists else (0, 0.0, None, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += int(pdf["pn"].sum())
            s += float(pdf["ps"].sum())
            bmn, bmx = float(pdf["pmn"].min()), float(pdf["pmx"].max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    spark = _stream_session(spark, _events_bytes(sf_dir))
    stream = clean_event_stream(read_events_stream(spark, sf_dir))
    shrunk = stream.select("event_type", "value").mapInPandas(
        partials, "event_type string, pn long, ps double, pmn double, pmx double"
    )
    running = shrunk.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_events long, sum_value double, "
            "min_value double, max_value double"
        ),
        stateStructType="n long, s double, mn double, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emissions = _run_stream(spark, running, scratch_dir("stateful"), mode="update")
    # final emission per key = the complete running totals (strong-oracle
    # shape regardless of how the source split micro-batches)
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        emissions.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: click events joined to the
    purchase events that follow them within one hour for the same user —
    the attribution-window join every clickstream pipeline runs. Both
    sides carry a 2-hour watermark, so at steady state each side buffers
    at most ~3 hours of keyed rows (watermark + join range) in the state
    store; the time-interval condition is what lets Spark expire state at
    all. availableNow processes the fixture in one deterministic batch,
    so the sink equals the batch band-join byte-for-byte (the oracle).
    """
    spark = _stream_session(spark, _events_bytes(sf_dir))
    ev = clean_event_stream(read_events_stream(spark, sf_dir))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (F.col("purchase_time") <= F.col("click_time") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_time") - F.unix_timestamp("click_time")
        ).alias("gap_s"),
    )
    # Joined pairs grow with the stream: parquet file sink, not the
    # memory sink, which holds the whole result in one heap.
    return _run_stream(
        spark,
        joined,
        scratch_dir("ssjoin"),
        sink="click_id long, purchase_id long, user_id long, gap_s long",
    )


def run_multibatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregation across MANY micro-batches with checkpointed
    state — the multi-trigger coverage the single-batch ids can't give.
    The event log is split into four time-ordered files;
    ``maxFilesPerTrigger=1`` (which availableNow honours) forces one
    micro-batch per file, so hour
    windows straddling a file boundary must MERGE state across batches,
    and append mode must emit each window exactly once after the watermark
    passes it. A far-future sentinel file advances the watermark past
    every real window so the final batch flushes them; the sentinel's own
    window stays open and is never emitted.

    STRONG oracle: the sink must equal the batch hourly aggregate of the
    whole log — a row lost at a batch boundary, a window emitted twice,
    or state dropped between triggers all break the hash. (Late-row
    DROPPING is deliberately not asserted: Spark guarantees no on-time
    row is dropped, but dropping too-late rows is best-effort — measured
    on this runtime, below-watermark rows still aggregate. The files are
    time-ordered so nothing here depends on that behavior.)
    """
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    from ..sources.readers import read_table

    spark = _stream_session(spark, _events_bytes(sf_dir))

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(cols)
    )
    # time-ordered quarters: every batch's rows are newer than the last's,
    # so windows close monotonically and no row is ever late
    bounds = ev.select(
        F.percentile_approx("ts", [0.25, 0.5, 0.75], 10000).alias("q")
    ).first()["q"]
    if bounds is None:  # empty log: one (empty) batch + the sentinel
        pieces = [ev]
    else:
        pieces = [
            ev.filter(F.col("ts") < bounds[0]),
            ev.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
            ev.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
            ev.filter(F.col("ts") >= bounds[2]),
        ]
    sentinel = (
        spark.createDataFrame([(-1, None, -1, "sentinel", 0.0, None)], schema=ev.schema)
        .withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
        .select(cols)
    )
    run_dir = scratch_dir("mb")
    src = _arrival_stream(spark, run_dir, pieces + [sentinel])
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # avg as exact-decimal sum ÷ count (round 17, VERDICT r16 item
            # 6): plain double avg is reduction-order-dependent, and this
            # id's CROSS-BATCH state merge orders the partial sums
            # differently from any single-pass engine — at sf1 fifteen
            # groups land exactly on a round-6 half-way point (.xxxxxx5)
            # and a last-ulp sum difference flips the rounded digit.
            # decimal(38,18) summation is exact and associative (each
            # addend is the value's SHORTEST decimal repr — Spark's
            # double→decimal cast semantics), so the merged sum is
            # independent of batch order; the correctly-rounded
            # decimal→double cast, IEEE division and HALF_UP round are
            # then engine-reproducible (the oracle states the same
            # pipeline; 0 diffs across 3600 sf1 groups incl. the 15
            # knife-edges). Headroom: decimal(38,18) holds Σ|value| up to
            # 1e20 — 1e12 rows × values ~1e2 at the 100 TB tier is 1e14.
            F.round(
                F.sum(F.col("value").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    return _run_stream(spark, agg, run_dir).filter(F.col("event_type") != "sentinel")


def run_late_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit late-data policy as a custom stateful operator — the
    DETERMINISTIC alternative to relying on watermark drops (which Spark
    documents, and this runtime confirms, as best-effort for aggregations:
    see run_multibatch_agg's caveat). Real pipelines that must *audit*
    what they dropped implement the policy themselves, exactly like this:

    per-key (user) state carries the high-water event time of all PRIOR
    micro-batches; a row is admitted iff it is no more than 30 minutes
    older than that high-water mark (or the key is new), and the mark
    then advances to include the current batch. The event log is split
    into two micro-batches by event_id parity (even first), so odd rows
    older than a user's even-row high-water mark minus 30 min are the
    deterministic "late" set.

    STRONG oracle: admission is a pure function of (parity split, per-user
    max even-row ts), which SQL states as a left join — independent of
    batch scheduling by construction. State is one int64 per user on the
    shuffle partition owning the key (the transformWithState scale
    posture); the payload never enters state.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark = _stream_session(
        spark, _events_bytes(sf_dir), floor=STREAM_FLOOR_PYTHON_STATE
    )
    run_dir = scratch_dir("late")
    ev = _arrival_events(spark, sf_dir)
    src = _arrival_stream(
        spark,
        run_dir,
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)],
    )

    LATE_BUDGET_US = 30 * 60 * 1_000_000  # 30 minutes, in µs

    def admit(key, pdfs, state: GroupState):
        prior = state.get[0] if state.exists else None
        hw = prior
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            # policy reads PRIOR-batch state only; intra-batch rows never
            # gate each other (each batch is one parity class anyway)
            mask = (
                ts_us >= prior - LATE_BUDGET_US
                if prior is not None
                else ts_us == ts_us
            )
            batch_max = int(ts_us.max()) if len(ts_us) else None
            if batch_max is not None:
                hw = batch_max if hw is None else max(hw, batch_max)
            out = pdf[mask]
            if len(out):
                # ts stays a timestamp through the sink: pandas' per-row
                # strftime in here cost ~4 µs/row × corpus inside the
                # narrowest (per-group) loop — the read-back formats with
                # codegen'd date_format instead (round 16).
                yield out[["event_id", "user_id", "ts", "value"]]
        if hw is not None:
            state.update((hw,))

    admitted = src.groupBy("user_id").applyInPandasWithState(
        admit,
        outputStructType="event_id long, user_id long, ts timestamp, value double",
        stateStructType="hw long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Admitted rows grow with the stream: parquet file sink, not the
    # memory sink, which holds the whole result in one heap.
    return _ts_as_string(_run_stream(spark, admitted, run_dir, sink=ARRIVAL_DDL))


def run_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: micro-batches land in the keyed upsert store
    through ``foreachBatch`` — the production sink shape the reference's
    per-record ``insert_one`` loop (consumer.py:78) maps to. Each batch is
    deduped to one row per user (latest by event time) and merged via
    ``upsert_into`` (sources/writers.py): replay-safe because re-delivering
    a batch replaces the same keys with the same rows — effectively-
    exactly-once on top of an at-least-once stream.

    The event log is split into two TIME-ORDERED halves (one micro-batch
    each), so last-write-wins by arrival order coincides with latest-by-
    event-time and the final store contents have a STRONG batch oracle:
    the latest row per user over the whole log.

    Scale shape: per batch, one window shuffle to dedupe + the upsert's
    bucket-pruned anti-join/rewrite — the store only rewrites buckets the
    batch touches, so sink IO tracks batch size, not table size.
    """
    from pyspark.sql import Window

    from ..sources.writers import ParquetBucketStore, upsert_into

    spark = _stream_session(spark, _events_bytes(sf_dir))
    run_dir = scratch_dir("fbu")
    ev = _arrival_events(spark, sf_dir)
    mid = ev.select(
        F.percentile_approx("ts", 0.5, 10000).alias("m")
    ).first()["m"]
    src = _arrival_stream(
        spark, run_dir, [ev.filter(F.col("ts") < mid), ev.filter(F.col("ts") >= mid)]
    )
    store = ParquetBucketStore(spark, os.path.join(run_dir, "store"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        latest = (
            bdf.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )  # upsert contract: key-unique updates
        upsert_into(store, latest, keys=["user_id"])

    _run_stream(spark, src, run_dir, sink=merge_batch)
    return store.read_all().select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
    )


def run_tws_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once dedup on the NEW Spark 4 arbitrary-state
    API (``transformWithStateInPandas`` — the successor to
    applyInPandasWithState, RocksDB-backed, typed state handles): per-user
    ListState of seen event_ids suppresses redelivered rows across
    micro-batches. The input replays every tenth event in a second batch —
    the at-least-once delivery the reference's consumer exhibits on restart
    (consumer.py:21-23 auto-commit) — and the sink must contain every event
    EXACTLY once.

    STRONG oracle: the deduped stream equals the plain distinct event log,
    independent of batch scheduling. State is the per-user id list on the
    key's shuffle partition, checkpointed by the RocksDB provider — at
    cluster scale this is Spark's own streaming-dedup posture
    (dropDuplicates compiles to the same keyed-state shape); the explicit
    processor is the template for policies dropDuplicates can't express
    (TTLs, dedup-by-similarity, audit side-outputs).

    The state server's Python workers import ``google.protobuf``; with no
    real distribution installed that is the vendored runtime, which
    ``session.provision`` puts on the workers' path. The run provisions
    its own stream session, so this holds for a caller's session however it
    was built. If the workers still die with the state server's crash
    signature (the operator named and ``exited unexpectedly`` or
    ``google.protobuf`` in the error), the query runs Spark's own streaming
    ``dropDuplicates`` over the same arrival files instead (same
    exactly-once result, query named ``tws_dedup_fallback_<hex>``) and
    warns with the original error; any other error propagates.
    """
    spark = provision(
        _stream_session(spark, _events_bytes(sf_dir), floor=STREAM_FLOOR_PYTHON_STATE)
    )
    run_dir = scratch_dir("tws_dedup")
    ev = _arrival_events(spark, sf_dir)
    # batch 2 = the at-least-once replay (every tenth event redelivered)
    src = _arrival_stream(spark, run_dir, [ev, ev.filter(F.col("event_id") % 10 == 0)])

    try:
        return _ts_as_string(_tws_dedup_state_api(spark, src, run_dir))
    except Exception as exc:  # only the worker-crash signature falls back
        msg = f"{type(exc).__name__}: {exc}"
        if "TransformWithStateInPySpark" not in msg or not (
            "exited unexpectedly" in msg or "google.protobuf" in msg
        ):
            raise
        warnings.warn(
            "transformWithStateInPandas state-server workers could not "
            "run (google.protobuf unreachable in the worker env); "
            "falling back to streaming dropDuplicates — same "
            f"exactly-once result. Original error: {msg}",
            RuntimeWarning,
            stacklevel=2,
        )
    return _ts_as_string(_tws_dedup_fallback(spark, src))


def _tws_dedup_state_api(
    spark: SparkSession, src: DataFrame, run_dir: str
) -> DataFrame:
    import pandas as pd  # noqa: F401 - the processor's frames are pandas

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DedupProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getListState("seen", "id BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            # ListState.get() yields plain value tuples (one element per
            # state-schema column), not Rows
            seen = {r[0] for r in self._seen.get()}
            fresh = []
            for pdf in rows:
                mask = ~pdf["event_id"].isin(seen)
                # also drop dups WITHIN the batch deterministically
                mask &= ~pdf["event_id"].duplicated()
                out = pdf[mask]
                if len(out):
                    fresh.extend(int(x) for x in out["event_id"])
                    # ts stays a timestamp; the read-back formats with
                    # date_format instead of per-row pandas strftime
                    yield out[["event_id", "user_id", "ts", "value"]]
            if fresh:
                self._seen.appendList([(i,) for i in fresh])

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    deduped = src.groupBy("user_id").transformWithStateInPandas(
        DedupProcessor(),
        outputStructType=ARRIVAL_DDL,
        outputMode="append",
        timeMode="none",
    )
    # Deduped rows grow with the stream: parquet file sink, not the
    # memory sink, which holds the whole result in one heap.
    return _run_stream(spark, deduped, run_dir, sink=ARRIVAL_DDL)


def _tws_dedup_fallback(spark: SparkSession, src: DataFrame) -> DataFrame:
    """Gated path when the TWS state server cannot run: Spark's own
    streaming ``dropDuplicates`` over the SAME arrival fixtures. event_id is
    globally unique, so per-stream dedup on it equals the per-user ListState
    dedup exactly (same exactly-once contract, same rows). Its own run
    directory — fresh sink + checkpoint, since the TWS attempt may have
    part-committed its own — whose basename names the query
    ``tws_dedup_fallback_<hex>``, so PROGRESS_SINK records which path ran."""
    deduped = src.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "ts", "value"
    )
    return _run_stream(
        spark, deduped, scratch_dir("tws_dedup_fallback"), sink=ARRIVAL_DDL
    )


def run_sliding_agg_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming SLIDING-window aggregate (2 h window, 1 h slide) run to
    completion with Trigger.AvailableNow: every event lands in exactly two
    overlapping windows, so window state holds two open aggregates per
    (offset, type) instead of one — the overlap factor (duration/slide) is
    the state-size multiplier, which is why production slides are kept
    coarse. Complete-mode memory sink for the same reason as
    run_tumbling_agg_availablenow: the result is one row per (window, type),
    bounded; at real cardinality the append-mode parquet file sink keeps
    emission executor-side."""
    spark = _stream_session(spark, _events_bytes(sf_dir))
    agg = (
        clean_event_stream(read_events_stream(spark, sf_dir))
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "2 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_stream(spark, agg, scratch_dir("sliding"), mode="complete")


def run_session_agg_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION-window aggregate: ``session_window`` merges
    per-user events whose inactivity gap is under 30 minutes — the state
    store keeps one open session per user and MERGES sessions that a
    late/out-of-order event bridges (the operation batch islands do with a
    window sort; here it is incremental keyed state). Complete mode +
    AvailableNow over the deterministic fixture makes the materialized
    sink exactly the batch sessionization, which is what the oracle
    hash-checks — a dropped merge or split session breaks it."""
    spark = _stream_session(spark, _events_bytes(sf_dir))
    agg = (
        clean_event_stream(read_events_stream(spark, sf_dir))
        .groupBy(F.session_window("event_time", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.date_format(F.min("event_time"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
        .select("user_id", "session_start", "n_events", "avg_value")
    )
    # Sessions grow with the users: a complete-mode parquet sink (each
    # trigger overwrites the directory), not the memory sink.
    return _run_stream(
        spark,
        agg,
        scratch_dir("session"),
        mode="complete",
        sink="user_id long, session_start string, n_events long, avg_value double",
    )
