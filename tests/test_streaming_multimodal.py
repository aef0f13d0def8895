"""Streaming execution + multimodal plumbing tests."""

from __future__ import annotations

import math

from mini_project_big_data_analysis_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from mini_project_big_data_analysis_spark.sources.writers import json_roundtrip


def test_streaming_tumbling_agg_matches_batch(spark, sf_dir):
    """Batch/stream parity (SURVEY.md §5.2 item 4): the streaming tumbling
    window over the static events table must equal the batch date_trunc agg."""
    import pyspark.sql.functions as F

    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        run_tumbling_agg_availablenow,
    )

    stream_out = run_tumbling_agg_availablenow(spark, sf_dir).collect()

    from mini_project_big_data_analysis_spark.sources.events import load_events

    ev = load_events(spark, sf_dir)
    batch = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    assert sorted(map(tuple, stream_out)) == sorted(map(tuple, batch))


def test_json_roundtrip_lossless(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, -0.25)], "id long, s string, v double"
    )
    back = json_roundtrip(df, "id BIGINT, s STRING, v DOUBLE")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_extract_features_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in extract_features(attach_binary_payload(df)).collect()}
    assert out[1].n_bytes == 4
    assert out[1].byte_entropy == 0.0  # single symbol
    assert abs(out[2].byte_entropy - 2.0) < 1e-9  # 4 distinct bytes → log2(4)
    assert out[3].n_bytes == 0 and out[3].byte_entropy == 0.0
    assert out[2].head_hex == "61626364"
    assert math.isfinite(out[2].byte_entropy)


def test_weather_poll_stream_offsets(spark, tmp_path):
    from mini_project_big_data_analysis_spark.sources.weather_source import (
        _observe,
        register_weather_source,
    )

    register_weather_source(spark)
    q = (
        spark.readStream.format("weather_poll")
        .option("max_cycles", 3)
        .load()
        .writeStream.format("memory")
        .queryName("weather_poll_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("weather_poll_test").collect()
    # whole sweeps only: each micro-batch is one 16-city poll cycle
    assert len(rows) >= 16 and len(rows) % 16 == 0
    got = {(r.city, r.cycle): (r.temperature, r.humidity, r.pressure, r.dt) for r in rows}
    city, cycle, temp, hum, pres, dt = _observe(3, 0)
    assert got[(city, cycle)] == (temp, hum, pres, dt)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 10s watermark: a row arriving after
    the watermark passed its window must not change that window's count —
    the bounded-state guarantee the reference's hand-rolled consumer lacks."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "event_time timestamp, v int"

    def drop_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    # batch A: window [0,10) gets two rows; a row at t=50 advances the
    # watermark to 40, sealing that window
    drop_file("a", [(t(1), 1), (t(8), 1), (t(50), 1)])

    agg = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", "10 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch B: t=5 is LATE (watermark 40 > window end 10) -> dropped;
        # t=90 advances the watermark to 80, sealing window [50,60)
        drop_file("b", [(t(5), 1), (t(90), 1)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.ws.second: r.n for r in spark.table("late_test").collect()}
    assert got.get(0) == 2, got   # late t=5 did NOT bump [0,10)
    assert got.get(50) == 1, got  # batch-B on-time row sealed normally


def test_weather_poll_batch_plans_one_partition_per_city(spark):
    from mini_project_big_data_analysis_spark.sources.weather_source import (
        CITIES,
        register_weather_source,
    )

    register_weather_source(spark)
    df = spark.read.format("weather_poll").option("cycles", 2).load()
    assert df.rdd.getNumPartitions() == len(CITIES)  # 16-way parallel poll
    assert df.count() == len(CITIES) * 2


def test_weather_poll_registers_in_sibling_session(spark):
    """Exercises the DATA_SOURCE_ALREADY_EXISTS fallback (ADVICE r16): a
    newSession() sibling whose own DataSourceManager lacks the source must
    still be able to register and load it — and a pyspark upgrade that
    moves the internals this fallback uses must fail THIS test loudly,
    not a production run."""
    from mini_project_big_data_analysis_spark.sources.weather_source import (
        CITIES,
        register_weather_source,
    )

    register_weather_source(spark)  # parent: public API path
    child = spark.newSession()
    register_weather_source(child)  # sibling: fallback path
    df = child.read.format("weather_poll").option("cycles", 1).load()
    assert df.count() == len(CITIES)


def test_stream_restarts_from_checkpoint_exactly_once(spark, tmp_path):
    """Stop → new data → restart with the SAME checkpoint: the resumed
    query must process only the new file (offsets recovered) and the
    file-sink log must keep the first run's output — exactly-once across
    restarts, the durability upgrade over the reference's auto-commit
    consumer (consumer.py:21-23, where a restart loses or replays data)."""
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    schema = "k long, v string"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(sink).count() == 3

    spark.createDataFrame([(4, "d"), (5, "e")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()  # restart: same checkpoint, must pick up ONLY the new file
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


def test_stream_budget_exhaustion_raises_not_partial(spark, sf_dir, monkeypatch):
    """A query still running when the completion budget expires must raise,
    never hand the caller a partial sink table (found at the sf100 tier:
    `stream_stateful_stats` silently returned 0 of 5 rows when 100M events
    outran the old unchecked awaitTermination(300)). The paced arrival-file
    runners (here the foreachBatch upsert) wait on the same budget."""
    import pytest

    from mini_project_big_data_analysis_spark.streaming import pipeline

    # 50 ms: enough for awaitTermination's seconds→ms conversion to stay
    # positive, far below any real availableNow run on the fixture
    monkeypatch.setattr(pipeline, "STREAM_BUDGET_S", 0.05)
    for runner in (
        pipeline.run_tumbling_agg_availablenow,
        pipeline.run_foreachbatch_upsert,
    ):
        with pytest.raises(TimeoutError, match="SPARK_GRAFT_STREAM_BUDGET_S"):
            runner(spark, sf_dir)
