"""Streaming query registrations (SURVEY.md §2.8).

``stream_tumbling_agg`` executes the real Structured Streaming machinery
(file source → watermark → windowed state → memory sink, Trigger.AvailableNow).
Registered rows-only through round 5 on the assumption that streams have no
SQL oracle; upgraded in round 6 — complete-mode output over availableNow's
deterministic input IS the batch hourly aggregate, so the stream run now
hash-checks against DuckDB like its batch twin ``agg_time_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import register


@register(
    "stream_tumbling_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           round(avg(value), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           count(*) AS n_events
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream (the dashboard's
    5-minute recompute loop, app.py:80-84,101, done incrementally).
    Runs to completion with Trigger.AvailableNow and returns the
    materialized memory-sink table. STRONG oracle (round-6 upgrade):
    complete mode + a single deterministic batch ⇒ the sink must equal
    the batch hourly aggregate exactly — lost state between triggers or a
    mis-merged window breaks the hash."""
    from ..streaming.pipeline import run_tumbling_agg_availablenow

    return run_tumbling_agg_availablenow(spark, sf_dir)


@register(
    "stream_clean_sink",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    """,
)
def stream_clean_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer pipeline end-to-end THROUGH the streaming engine with an
    idempotent foreachBatch parquet sink — and a STRONG oracle: the sink's
    contents must equal the batch-cleaned table exactly (checkpointed
    offsets + per-batch appends ⇒ effectively-exactly-once; a duplicate or
    loss would break the hash)."""
    from ..streaming.pipeline import run_clean_to_parquet_availablenow

    return run_clean_to_parquet_availablenow(spark, sf_dir)


@register(
    "stream_dedup",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication with a STRONG oracle: every source
    file is delivered TWICE (a simulated at-least-once replay of the
    reference's consumer, consumer.py:21-23), watermarked
    dropDuplicatesWithinWatermark (the state-evicting form — plain
    dropDuplicates without the event-time key never evicts; see
    streaming/pipeline.py) on
    the unique event_id eliminates the second delivery in keyed state, and
    the sink must hash-equal the batch-cleaned single-delivery table — one
    surviving duplicate or one lost key breaks the hash."""
    from ..streaming.pipeline import run_stream_dedup_availablenow

    return run_stream_dedup_availablenow(spark, sf_dir)


@register(
    "stream_tws_dedup",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL
    """,
)
def stream_tws_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once dedup on Spark 4's arbitrary-state API
    (``transformWithStateInPandas``, RocksDB-backed typed ListState) with
    the stream_dedup replay recipe's STRONG oracle: batch 2 redelivers
    every tenth event (the reference consumer's at-least-once restart,
    consumer.py:21-23) and the sink must hash-equal the single-delivery
    event log — one surviving duplicate or lost key breaks the hash.

    Registered in round 16 after vendoring a minimal pure-Python protobuf
    runtime (vendor/google/protobuf/_mini_runtime.py) for the state-server
    protocol this container's pyspark could not drive before — see
    streaming/pipeline.py:tws_available."""
    from ..streaming.pipeline import run_tws_dedup

    return run_tws_dedup(spark, sf_dir)


@register(
    "stream_stateful_stats",
    """
    SELECT event_type,
           count(value) AS n_events,
           round(sum(value), 6) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom user-defined stateful operator (applyInPandasWithState):
    per-key running stats carried in explicit keyed state across
    micro-batches. STRONG oracle: the final per-key emission must equal the
    batch global aggregate — wrong state merge, lost batch, or double
    processing all break the hash."""
    from ..streaming.pipeline import run_stateful_running_stats

    return run_stateful_running_stats(spark, sf_dir)


_WEATHER_STREAM_ORACLE = """
    WITH obs AS (
        SELECT printf('city_%02d', i) AS city,
               20.0 + ((7*i + 31*c) % 150) / 10.0 AS temperature,
               (1700000000 + 300*c + 2*i)::BIGINT AS dt
        FROM generate_series(0, 15) s(i), generate_series(0, 9) t(c)
    )
    SELECT city,
           (dt // 600) * 600 AS window_start_s,
           count(*) AS n_obs,
           round(avg(temperature), 6) AS avg_temp
    FROM obs
    GROUP BY city, (dt // 600) * 600
"""


@register("stream_weather_pipeline", _WEATHER_STREAM_ORACLE)
def stream_weather_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE reference pipeline — poll source → typed event time →
    windowed aggregate → sink (producer.py + consumer.py + app.py's hourly
    rollup) — as ONE streaming query over the custom weather_poll source,
    with a byte-exact arithmetic oracle: the deterministic observe function
    makes even the streaming composite hash-checkable, not just rows-only.
    10-minute tumbling windows on the observation's epoch time; the bounded
    stream (max_cycles) runs to its end under Trigger.AvailableNow and the
    memory sink holds the complete-mode result."""
    from ..scratch import scratch_dir
    from ..sources.weather_source import register_weather_source
    from ..streaming.pipeline import _run_stream, _stream_session

    # 16 rows per poll sweep: state partitioning derives to the floor (4)
    # instead of the batch default — the windowed agg's state stores pay
    # per-instance commit cost every one of the 10 micro-batches.
    spark = _stream_session(spark, 0)
    register_weather_source(spark)
    agg = (
        spark.readStream.format("weather_poll")
        .option("max_cycles", 10)
        # catch-up batching (round 16): admit every available cycle per
        # trigger — the unthrottled-Kafka shape — instead of one 16-row
        # sweep per micro-batch; each tiny batch paid a full stateful-agg
        # state-commit cycle (~0.5 s) for 16 rows. Same rows, same
        # complete-mode result (hash-checked); the paced one-sweep form
        # stays the source default and the multi-batch state-merge surface
        # is pinned by stream_multibatch_agg.
        .option("cycles_per_batch", 10)
        .load()
        .withColumn("event_time", F.timestamp_seconds("dt"))
        .groupBy("city", F.window("event_time", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.avg("temperature"), 6).alias("avg_temp"),
        )
        .select(
            "city",
            F.unix_timestamp("w.start").alias("window_start_s"),
            "n_obs",
            "avg_temp",
        )
    )
    return _run_stream(spark, agg, scratch_dir("wx"), mode="complete")


@register(
    "stream_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           coalesce(n.n_name, 'unknown') AS nation
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE e.value IS NOT NULL AND e.ts IS NOT NULL AND e.event_type IS NOT NULL
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (the reference's city→island
    lookup, app.py:46, moved to ingest time): each micro-batch joins the
    static user→nation dim broadcast-side. STRONG oracle — the streamed
    sink must equal the batch left-join over the same tables (a dropped or
    duplicated micro-batch row breaks the hash)."""
    from ..streaming.pipeline import run_stream_static_enrich

    return run_stream_static_enrich(spark, sf_dir)


@register(
    "stream_fanout_sinks",
    """
    WITH cleaned AS (
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT *, 'archive' AS sink FROM cleaned
    UNION ALL
    SELECT *, 'serving' AS sink FROM cleaned
    """,
)
def stream_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink fan-out: one micro-batch persisted once, written to two
    idempotent destinations (archive + serving) inside one foreachBatch —
    the one-topic-many-consumers pattern without reprocessing the stream
    per sink. STRONG oracle: both sinks must equal the batch-cleaned table
    exactly."""
    from ..streaming.pipeline import run_fanout_sinks_availablenow

    return run_fanout_sinks_availablenow(spark, sf_dir)


@register(
    "stream_stream_join",
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           floor(epoch(p.ts))::BIGINT - floor(epoch(c.ts))::BIGINT AS gap_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.value IS NOT NULL AND c.ts IS NOT NULL
      AND p.value IS NOT NULL AND p.ts IS NOT NULL
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (click→purchase attribution
    within 1 hour, per user) — the §2.8 shape the catalog lacked: both
    sides are unbounded, state expires via watermark + time-interval
    condition. STRONG oracle: with availableNow's single deterministic
    batch the streaming sink must equal the batch band-join exactly."""
    from ..streaming.pipeline import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@register(
    "stream_multibatch_agg",
    # avg via exact decimal summation (VERDICT r16 item 6 — the sf1
    # last-ulp knife-edge): ::VARCHAR routes reproduce Spark's semantics in
    # DuckDB — double::VARCHAR is the shortest decimal repr (= Spark's
    # double→decimal cast input), and DECIMAL::VARCHAR::DOUBLE gives the
    # correctly-rounded double (DuckDB's direct DECIMAL(38,18)::DOUBLE cast
    # is off by an ulp: 14752.1 → 14752.099999999999); the final round runs
    # HALF_UP in decimal space exactly like Spark's round(double, 6).
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round((((sum(value::VARCHAR::DECIMAL(38,18))::VARCHAR::DOUBLE)
                   / count(*))::VARCHAR)::DECIMAL(38,18), 6)::DOUBLE AS avg_value
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_multibatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly aggregate across FOUR checkpointed micro-batches (one
    time-ordered file each) + a watermark-flushing sentinel batch — pins
    cross-batch window-state merging and exactly-once append emission,
    the multi-trigger semantics every other streaming id (single
    availableNow batch) leaves untested. STRONG oracle: sink ≡ batch
    hourly aggregate of the whole log."""
    from ..streaming.pipeline import run_multibatch_agg

    return run_multibatch_agg(spark, sf_dir)


@register(
    "stream_late_filter",
    """
    WITH ev AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ), hw AS (
        SELECT user_id, max(ts) AS hw_ts FROM ev
        WHERE event_id % 2 = 0 GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           e.value
    FROM ev e LEFT JOIN hw USING (user_id)
    WHERE e.event_id % 2 = 0
       OR hw.hw_ts IS NULL
       OR e.ts >= hw.hw_ts - INTERVAL 30 MINUTE
    """,
)
def stream_late_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic late-data admission policy as an explicit stateful
    operator (applyInPandasWithState): per-user high-water event time from
    prior micro-batches gates each arriving row to a 30-minute lateness
    budget — the auditable alternative to watermark best-effort drops.
    Two parity-split micro-batches (even event_ids first) make the late
    set deterministic. STRONG oracle: admission is a pure function of the
    parity split and per-user max even-row ts (a left join in SQL)."""
    from ..streaming.pipeline import run_late_filter

    return run_late_filter(spark, sf_dir)


@register(
    "stream_foreachbatch_upsert",
    """
    WITH ev AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ), ranked AS (
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev
    )
    SELECT user_id, event_id, ts_s, value FROM ranked WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE through foreachBatch into the keyed upsert store
    (the reference's insert_one consumer loop, consumer.py:78, upgraded to
    replay-safe bulk MERGE): two time-ordered micro-batches, each deduped
    to latest-per-user and upserted; the final store must equal the batch
    latest-row-per-user over the whole log. STRONG oracle — a lost batch,
    a double-applied batch, or a mis-merged key all break the hash."""
    from ..streaming.pipeline import run_foreachbatch_upsert

    return run_foreachbatch_upsert(spark, sf_dir)


@register(
    "stream_sliding_agg",
    """
    WITH e AS (
        SELECT ts, event_type, value FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ), w AS (
        SELECT date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS wstart,
               event_type, value
        FROM e, unnest([0, 1]) u(k)
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregate (2 h window, 1 h slide): every
    event contributes to exactly TWO overlapping windows, so the state
    store carries duration/slide open aggregates per key — the overlap
    factor is the state multiplier the watermark bounds. STRONG oracle:
    complete mode over availableNow's deterministic input must equal the
    batch form, which DuckDB states directly as each row fanned out to its
    two hour-aligned window starts (Spark aligns sliding windows to the
    epoch, so for 2h/1h those starts are trunc_hour(ts) and
    trunc_hour(ts) − 1 h)."""
    from ..streaming.pipeline import run_sliding_agg_availablenow

    return run_sliding_agg_availablenow(spark, sf_dir)


@register(
    "stream_session_agg",
    """
    WITH e AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ), ordered AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN date_trunc('microseconds', ts)
                         - lag(date_trunc('microseconds', ts))
                           OVER (PARTITION BY user_id
                                 ORDER BY date_trunc('microseconds', ts), event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM e
    ), islands AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id
                              ORDER BY date_trunc('microseconds', ts), event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
        FROM ordered
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM islands
    GROUP BY user_id, sess
    """,
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows ON THE STREAM: ``session_window`` keyed state merges
    each user's events whose inactivity gap is under 30 minutes, including
    merging two open sessions that a bridging out-of-order event joins —
    incremental state doing what the batch twin (agg_session_window) does
    with a sort. STRONG oracle: the deterministic availableNow run's
    complete-mode sink must hash-equal the batch gap-islands sessionization
    (same clean filter); a split or unmerged session breaks it."""
    from ..streaming.pipeline import run_session_agg_availablenow

    return run_session_agg_availablenow(spark, sf_dir)
