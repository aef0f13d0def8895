"""Measured-scale correctness pins at the sf10 stress fixture for ids
whose DuckDB oracle cannot (simhash: the SQL twin's 64-bit-plane
expansion is a ~3-billion-row CTE) or does not (fuzzy, the streaming
state ids) follow to that scale — see SCALING.md's round-9 sections.

The sf10 fixture (scripts/make_sf1.py with copies=100) is 100 key-shifted
copies of sf0.1: doc_ids shift by i*stride, texts repeat verbatim — so
every distinct non-NULL text forms an exact-dup class of >=100 members
with an identical SimHash. That planted structure makes the full pair set
checkable WITHOUT re-implementing simhash:

- a document's simhash is a pure function of its text, so pair presence
  and hamming depend ONLY on the (text_a, text_b) pair. Grouping the
  result by unordered text-class pair, every group must be COMPLETE —
  C(s, 2) pairs for an intra-class group, s_a*s_b for a cross-class
  group — with ONE constant hamming value. A blocking bug that drops
  some copies of a candidate pair breaks group completeness; a
  fingerprint instability breaks hamming constancy.
- equal text => identical hash: every intra-class pair is Hamming 0 and
  MUST appear -> count(h0 same-text pairs) == sum over classes C(s, 2),
  and zero same-text pairs with hamming > 0. (Cross-text hamming-0
  groups are legitimate — texts that normalize/tokenize identically —
  and are covered by the completeness/constancy checks above.)
- hygiene: pairs are unique, id_a < id_b, hamming <= 3, no NULL-text
  membership (the round-8 NULL-class fix, now pinned at 100-deep depth).

Every assertion is a Spark aggregate — the ~25M expanded pairs never
reach the driver. Run standalone (takes minutes; needs the gitignored
fixture):

    SPARK_GRAFT_SF10_DIR=testdata_sf10 python -m pytest \
        tests/test_sf10_invariants.py -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF10_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR")

pytestmark = pytest.mark.skipif(
    not (SF10_DIR and os.path.exists(os.path.join(SF10_DIR or "", "documents.parquet"))),
    reason="sf10 stress fixture run is opt-in: set SPARK_GRAFT_SF10_DIR "
    "(minutes of runtime; fixture is gitignored — scripts/make_sf1.py "
    "/root/testdata/sf0.1 testdata_sf10 100)",
)


@pytest.fixture(scope="module")
def spark():
    """Shadow the shared local[2]/2g conftest session for THIS module: the
    sf10 pins materialize ~25M-pair graphs (the components labeling OOMs a
    2g driver in hash aggregation), so the documented standalone run gets a
    session sized for the fixture. If a session already exists (full-suite
    run with the env set), reuse it untouched — stopping the conftest
    session would break every later test that holds it."""
    from pyspark.sql import SparkSession

    from mini_project_big_data_analysis_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    if existing is not None:
        yield existing
        return
    s = get_spark(
        app_name="mpbda-sf10-invariants",
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.driver.memory": "20g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _digested_docs(spark):
    """(doc_id, text=md5 digest): carry a 32-byte digest, not the text —
    the pair-side joins touch ~25M rows, and equal digest <=> equal text
    for this corpus. NULL text keeps a NULL digest (md5(NULL) is NULL),
    preserving the NULL checks."""
    from mini_project_big_data_analysis_spark.queries.base import load

    return load(spark, SF10_DIR, "documents").select(
        "doc_id", F.md5("text").alias("text")
    )


def _pair_group_row(docs, classes, pairs, val_col):
    """Group a (id_a, id_b, val) pair frame by unordered text-class pair
    and aggregate the invariant counters. greatest/least canonicalization
    matters: shifted copy ids interleave, so one class pair's copies split
    across both (text_a, text_b) orientations. All Spark-side; one row out.
    """
    # merge-join hints: the 500k-doc digest side trips broadcast OOM under
    # the 2g test driver; sort-merge is the right plan for both sides here.
    texts_a = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    ).hint("merge")
    texts_b = docs.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    ).hint("merge")
    grp = (
        pairs.join(texts_a, "id_a").join(texts_b, "id_b")
        .select(
            F.least("text_a", "text_b").alias("ta"),
            F.greatest("text_a", "text_b").alias("tb"),
            (F.col("text_a") == F.col("text_b")).alias("same"),
            "id_a",
            "id_b",
            F.col(val_col).alias("v"),
            (F.col("text_a").isNull() | F.col("text_b").isNull()).alias("nulltext"),
        )
        .groupBy("ta", "tb", "same")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("id_a", "id_b").alias("nd"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("bad_order"),
            F.sum(F.col("nulltext").cast("long")).alias("null_text_pairs"),
        )
    )
    sz = classes  # (text digest, class size) — ~5k rows, broadcastable
    return (
        grp.join(
            F.broadcast(sz.select(F.col("text").alias("ta"), F.col("count").alias("ca"))),
            "ta",
            "left",
        )
        .join(
            F.broadcast(sz.select(F.col("text").alias("tb"), F.col("count").alias("cb"))),
            "tb",
            "left",
        )
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.col("same").cast("long")).alias("same_groups"),
            F.sum((~F.col("same")).cast("long")).alias("cross_groups"),
            F.sum((F.col("vmin") != F.col("vmax")).cast("long")).alias("v_varies"),
            F.min(F.when(F.col("same"), F.col("vmin"))).alias("same_v_min"),
            F.max(F.when(F.col("same"), F.col("vmax"))).alias("same_v_max"),
            F.sum(
                (
                    F.col("same")
                    & (
                        F.col("n")
                        != ((F.col("ca") * (F.col("ca") - 1)) / 2).cast("long")
                    )
                ).cast("long")
            ).alias("incomplete_same"),
            F.sum(
                (~F.col("same") & (F.col("n") != F.col("ca") * F.col("cb"))).cast(
                    "long"
                )
            ).alias("incomplete_cross"),
            F.sum((F.col("nd") != F.col("n")).cast("long")).alias("dup_groups"),
            F.sum("bad_order").alias("bad_order"),
            F.sum("null_text_pairs").alias("null_text_pairs"),
            F.max("vmax").alias("max_v"),
            F.min("vmin").alias("min_v"),
            F.sum(F.when(F.col("same"), F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("same_total"),
        )
        .collect()[0]
    )


def _assert_group_hygiene(row):
    assert row.null_text_pairs == 0, "NULL-text docs must never form pairs"
    assert row.bad_order == 0, "pairs must be canonical id_a < id_b"
    assert row.dup_groups == 0, "duplicate pairs emitted"
    assert row.v_varies == 0, "value not constant within a text-class pair"
    assert row.incomplete_same == 0, "intra-class group missing copy pairs"
    assert row.incomplete_cross == 0, "cross-class group missing copy pairs"
    assert row.cross_groups > 0, "fixture should exercise cross-class matches"


def test_simhash_pairs_sf10_planted_dup_invariants(spark):
    from mini_project_big_data_analysis_spark.queries import all_queries

    docs = _digested_docs(spark)
    # Expected hamming-0 pair count: C(s,2) per exact-text class, integer
    # arithmetic throughout. Also pin the fixture's planted shape (>=100-
    # deep classes) so a wrong fixture can't vacuously pass.
    classes = docs.filter(F.col("text").isNotNull()).groupBy("text").count()
    cls = classes.agg(
        F.sum((F.col("count") * (F.col("count") - F.lit(1))) / F.lit(2))
        .cast("long")
        .alias("expected_h0"),
        F.min("count").alias("min_class"),
        F.count("*").alias("n_classes"),
    ).collect()[0]
    assert cls.min_class >= 100, "fixture is not the 100-deep-copy profile"
    assert cls.expected_h0 > 0

    pairs = all_queries()["ext_dedup_simhash"].fn(spark, SF10_DIR)
    row = _pair_group_row(docs, classes, pairs, "hamming")

    _assert_group_hygiene(row)
    assert 0 <= row.min_v and row.max_v <= 3
    assert row.same_v_min == 0 and row.same_v_max == 0, "equal text hashed apart"
    # Completeness by exact cardinality: unique canonical pairs + the
    # per-group checks make count-equality a set-equality proof.
    assert row.same_total == cls.expected_h0, (
        f"intra-class pair completeness: got {row.same_total}, "
        f"expected {cls.expected_h0} across {cls.n_classes} classes"
    )


def test_minhash_fuzzy_pairs_sf10_planted_dup_invariants(spark):
    """The same class-pair completeness/constancy pin for the MinHash-LSH
    tier: jaccard is a pure function of the text pair, identical texts are
    jaccard exactly 1.0, and the round-7 class collapse must expand EVERY
    copy pair. Unlike simhash, shingle-less docs (< k tokens, using the
    package's own tokenizer/shingle helpers as the eligibility predicate)
    legitimately produce no pairs — expected counts run over eligible
    classes only."""
    from mini_project_big_data_analysis_spark.functions.text_fns import (
        shingles_from_tokens,
        whitespace_tokens,
    )
    from mini_project_big_data_analysis_spark.queries import all_queries

    docs = _digested_docs(spark)
    classes = docs.filter(F.col("text").isNotNull()).groupBy("text").count()

    from mini_project_big_data_analysis_spark.queries.base import load

    eligible = (
        load(spark, SF10_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("text"), whitespace_tokens("text").alias("__toks"))
        .filter(F.size(F.array_distinct(shingles_from_tokens("__toks", 3))) > 0)
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    cls = eligible.agg(
        F.sum((F.col("count") * (F.col("count") - F.lit(1))) / F.lit(2))
        .cast("long")
        .alias("expected_j1"),
        F.count("*").alias("n_eligible"),
    ).collect()[0]
    assert cls.expected_j1 > 0

    pairs = all_queries()["ext_dedup_fuzzy"].fn(spark, SF10_DIR)
    row = _pair_group_row(docs, classes, pairs, "jaccard")

    _assert_group_hygiene(row)
    assert row.min_v >= 0.3, "pair below the jaccard threshold emitted"
    assert row.max_v <= 1.0
    assert row.same_v_min == 1.0 and row.same_v_max == 1.0, (
        "identical texts must verify at jaccard exactly 1.0"
    )
    assert row.same_total == cls.expected_j1, (
        f"intra-class pair completeness: got {row.same_total}, "
        f"expected {cls.expected_j1} over {cls.n_eligible} eligible classes"
    )


def test_stream_dedup_watermark_bounds_state_at_sf10(spark, tmp_path):
    """VERDICT r8 item 6: the registered stream_dedup fixture delivers the
    whole corpus in ONE micro-batch, so its state holds every key and the
    measured sf-curve exponent (0.57) is key-domain growth, not the
    operator's scale posture. The documented claim is TIME-bounded state:
    with event-time-ordered arrival the watermark evicts keys older than
    the horizon, so peak state tracks keys-per-horizon — a property of the
    ingest rate, independent of how many corpus-lifetimes long the stream
    runs. This pins that claim with a measured run at sf10 (10M events):
    time-sorted chunks delivered TWICE (the at-least-once replay),
    maxFilesPerTrigger-paced micro-batches, and the state-store progress
    metrics must show peak numRowsTotal at a small fraction of the key
    domain while the sink still exactly equals the clean key set."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mini_project_big_data_analysis_spark.sources.events import stream_events
    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        clean_event_stream,
    )

    # time-sorted so arrival order = event order
    t = pq.read_table(os.path.join(SF10_DIR, "events.parquet")).sort_by("ts")
    n_keys = len(
        t.filter(
            pc.and_(
                pc.and_(pc.is_valid(t["value"]), pc.is_valid(t["ts"])),
                pc.is_valid(t["event_type"]),
            )
        )
    )

    n_chunks = 16
    delivery = tmp_path / "delivery"
    delivery.mkdir()
    rows_per = (t.num_rows + n_chunks - 1) // n_chunks
    mtime = 1_600_000_000
    for i in range(n_chunks):
        chunk = t.slice(i * rows_per, rows_per)
        for copy in ("a", "b"):  # byte-identical double delivery
            p = delivery / f"chunk_{i:03d}_{copy}.parquet"
            pq.write_table(chunk, p)
            mtime += 10  # file source paces oldest-modTime-first
            os.utime(p, (mtime, mtime))

    sink = tmp_path / "sink"
    stream = clean_event_stream(
        stream_events(
            spark,
            str(delivery),
            str(delivery / "chunk_000_a.parquet"),
            maxFilesPerTrigger=2,
        )
    )
    # dropDuplicatesWithinWatermark, NOT dropDuplicates: the plain form on
    # a key subset without the event-time column NEVER evicts state — this
    # very test measured peak state = the full 10M-key domain before the
    # round-9 pipeline fix switched the operator to the within-watermark
    # form (which evicts keys once the watermark passes their event time).
    deduped = (
        stream.withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    # RocksDB state store: ~600k keys/batch of keyed state is off-heap
    # there (the production config at this state size — the default
    # HDFS-backed provider keeps every retained version on the driver-
    # executor heap and OOMs the 2g test JVM).
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            deduped.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    states = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    peak = max(states)
    batches = len(states)
    got = spark.read.parquet(str(sink)).count()
    assert got == n_keys, "sink must equal the clean single-delivery key set"
    assert batches >= n_chunks, "delivery was not paced into micro-batches"
    # Eviction is the claim: peak state ≈ keys per (chunk + 1h horizon),
    # far below the full key domain the one-batch fixture holds.
    assert peak < 0.25 * n_keys, (
        f"peak state {peak} rows vs {n_keys} keys — watermark not evicting"
    )
    print(f"SCALING: sf10 stream_dedup peak_state={peak} keys={n_keys} "
          f"batches={batches} frac={peak / n_keys:.3f}")


def test_stream_stream_join_watermark_bounds_state_at_sf10(spark, tmp_path):
    """Same posture pin for the attribution join: run_stream_stream_join's
    docstring claims each side buffers ~(watermark + join range) hours of
    keyed rows, because the time-interval condition lets Spark expire
    state. Paced, time-ordered delivery of sf10's 10M events must show
    peak join state at a small fraction of the click+purchase row count,
    with the streamed sink still row-identical to the batch band join."""
    import pyarrow.parquet as pq

    from mini_project_big_data_analysis_spark.sources.events import stream_events
    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        clean_event_stream,
    )

    t = pq.read_table(os.path.join(SF10_DIR, "events.parquet")).sort_by("ts")
    n_chunks = 8
    delivery = tmp_path / "delivery"
    delivery.mkdir()
    rows_per = (t.num_rows + n_chunks - 1) // n_chunks
    mtime = 1_600_000_000
    for i in range(n_chunks):
        p = delivery / f"chunk_{i:03d}.parquet"
        pq.write_table(t.slice(i * rows_per, rows_per), p)
        mtime += 10
        os.utime(p, (mtime, mtime))

    ev = clean_event_stream(
        stream_events(
            spark,
            str(delivery),
            str(delivery / "chunk_000.parquet"),
            maxFilesPerTrigger=1,
        )
    )
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
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select("click_id", "purchase_id")

    sink = tmp_path / "sink"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(900)
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    states = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    peak, batches = max(states), len(states)

    # Batch reference: the same band join on the batch-cleaned table.
    from mini_project_big_data_analysis_spark.queries.base import load

    bev = load(spark, SF10_DIR, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    bc = bev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_time"),
    )
    bp = bev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_time"),
    )
    expected = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select("click_id", "purchase_id")

    got = spark.read.parquet(str(sink))
    n_expected = expected.count()
    assert got.count() == n_expected, "paced join lost or duplicated matches"
    assert got.exceptAll(expected).count() == 0
    n_side_rows = bc.count() + bp.count()
    assert batches >= n_chunks
    assert peak < 0.5 * n_side_rows, (
        f"peak join state {peak} vs {n_side_rows} side rows — not expiring"
    )
    print(
        f"SCALING: sf10 stream_stream_join peak_state={peak} "
        f"side_rows={n_side_rows} matches={n_expected} batches={batches} "
        f"frac={peak / n_side_rows:.3f}"
    )


def test_stream_tumbling_agg_watermark_bounds_state_at_sf10(spark, tmp_path):
    """Third state class after dedup keys and join buffers: windowed-
    aggregate state. With paced in-order delivery and a 10-minute
    watermark, only windows the watermark hasn't closed stay in state —
    peak numRowsTotal must track open-windows-per-horizon, a tiny
    fraction of the total (window × event_type) domain the corpus spans,
    while append mode emits every closed window exactly once (sink ==
    batch hourly aggregate for all windows the final watermark passed)."""
    import pyarrow.parquet as pq

    from mini_project_big_data_analysis_spark.sources.events import stream_events
    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        clean_event_stream,
        tumbling_agg,
    )

    t = pq.read_table(os.path.join(SF10_DIR, "events.parquet")).sort_by("ts")
    n_chunks = 8
    delivery = tmp_path / "delivery"
    delivery.mkdir()
    rows_per = (t.num_rows + n_chunks - 1) // n_chunks
    mtime = 1_600_000_000
    for i in range(n_chunks):
        p = delivery / f"chunk_{i:03d}.parquet"
        pq.write_table(t.slice(i * rows_per, rows_per), p)
        mtime += 10
        os.utime(p, (mtime, mtime))

    agg = tumbling_agg(
        clean_event_stream(
            stream_events(
                spark,
                str(delivery),
                str(delivery / "chunk_000.parquet"),
                maxFilesPerTrigger=1,
            )
        )
    )
    sink = tmp_path / "sink"
    q = (
        agg.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    states = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    peak, batches = max(states), len(states)

    from mini_project_big_data_analysis_spark.queries.base import load

    bev = load(spark, SF10_DIR, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    batch_windows = bev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).count()
    n_windows = batch_windows.count()

    got = spark.read.parquet(str(sink))
    n_emitted = got.count()
    # append mode emits only windows the FINAL watermark closed; the last
    # 10 minutes of the corpus stays open. Every emitted window must be
    # emitted exactly once.
    assert n_emitted >= 0.95 * n_windows
    assert got.select("window_start", "event_type").distinct().count() == n_emitted
    assert batches >= n_chunks
    assert peak < 0.6 * n_windows, (
        f"peak window state {peak} vs {n_windows} total windows"
    )
    print(
        f"SCALING: sf10 stream_tumbling_agg peak_state={peak} "
        f"windows={n_windows} emitted={n_emitted} batches={batches} "
        f"frac={peak / n_windows:.3f}"
    )


def test_ngram_jaccard_pairs_sf10_planted_dup_invariants(spark):
    """Class-pair completeness/constancy pin for the word-set Jaccard tier
    (`ext_dedup_ngram`) — the id whose DuckDB twin cannot follow to sf10
    because the PAIR OUTPUT itself explodes (C(100,2) per 100-deep class
    plus 10^4-fold cross-class expansion; the same output-cardinality
    class as the entity-match and band-join oracles).

    Jaccard is a pure function of the (text_a, text_b) pair and the block
    key (first 8 tokens) is a pure function of the text, so pair presence
    and value depend only on the text-class pair: every group must be
    complete and value-constant, identical texts must verify at jaccard
    exactly 1.0, and — because even a zero-token text is Jaccard-1 with
    its copies — EVERY non-NULL text class contributes exactly C(s, 2)
    intra-class pairs."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    docs = _digested_docs(spark)
    classes = docs.filter(F.col("text").isNotNull()).groupBy("text").count()
    cls = classes.agg(
        F.sum((F.col("count") * (F.col("count") - F.lit(1))) / F.lit(2))
        .cast("long")
        .alias("expected_j1"),
        F.count("*").alias("n_classes"),
    ).collect()[0]
    assert cls.expected_j1 > 0

    pairs = all_queries()["ext_dedup_ngram"].fn(spark, SF10_DIR)
    row = _pair_group_row(docs, classes, pairs, "jaccard")

    _assert_group_hygiene(row)
    assert row.min_v >= 0.3, "pair below the jaccard threshold emitted"
    assert row.max_v <= 1.0
    assert row.same_v_min == 1.0 and row.same_v_max == 1.0, (
        "identical texts must verify at jaccard exactly 1.0"
    )
    assert row.same_total == cls.expected_j1, (
        f"intra-class pair completeness: got {row.same_total}, "
        f"expected {cls.expected_j1} across {cls.n_classes} classes"
    )


def test_editdist_pairs_sf10_planted_dup_invariants(spark):
    """Same pin for the Levenshtein tier (`ext_dedup_editdist`). The
    comparison key is the (lang, source, prefix-12) triple — lang/source
    are independent columns, NOT functions of the text — so the class
    digest hashes the whole triple; docs with a NULL in any key column are
    ineligible by the operator's contract (equi-join keys never match on
    NULL) and must produce no pairs. Intra-class pairs are distance 0 by
    definition and every eligible class must be fully expanded."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    raw = load(spark, SF10_DIR, "documents")
    eligible = (
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    # NULL-keyed docs keep a NULL digest so the null_text_pairs hygiene
    # check still proves they never pair.
    docs = raw.select(
        "doc_id",
        F.when(
            eligible,
            F.md5(
                F.concat_ws(
                    "\x01", "lang", "source", F.substring("text", 1, 12)
                )
            ),
        ).alias("text"),
    )
    classes = docs.filter(F.col("text").isNotNull()).groupBy("text").count()
    cls = classes.agg(
        F.sum((F.col("count") * (F.col("count") - F.lit(1))) / F.lit(2))
        .cast("long")
        .alias("expected_d0"),
        F.count("*").alias("n_classes"),
    ).collect()[0]
    assert cls.expected_d0 > 0

    pairs = all_queries()["ext_dedup_editdist"].fn(spark, SF10_DIR)
    row = _pair_group_row(docs, classes, pairs, "edit_dist")

    _assert_group_hygiene(row)
    assert 0 <= row.min_v and row.max_v <= 6
    assert row.same_v_min == 0 and row.same_v_max == 0, (
        "identical comparison keys must verify at distance 0"
    )
    assert row.same_total == cls.expected_d0, (
        f"intra-class pair completeness: got {row.same_total}, "
        f"expected {cls.expected_d0} across {cls.n_classes} classes"
    )


def test_dedup_components_sf10_planted_dup_invariants(spark):
    """Scale pin for the transitive-closure tier (`ext_dedup_components`),
    whose recursive-CTE oracle cannot follow to sf10 (the edge set itself
    is tens of millions of rows). Three Spark-aggregate invariants pin the
    labeling without a closure re-implementation:

    - edge consistency: EVERY near-dup edge's endpoints carry the same
      component label (a labeling that splits any edge is wrong);
    - min-id labeling: each component's label equals the minimum node id
      in it, and every node's label is <= its own id;
    - class consistency: all >=100 copies of a text share one label (an
      intra-class edge exists for every class, so a class split across
      components would also break edge consistency — checked directly so
      the failure localizes)."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    comps = all_queries()["ext_dedup_components"].fn(spark, SF10_DIR)
    comps = comps.persist()
    try:
        hygiene = comps.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("node").alias("n_nodes"),
            F.sum((F.col("comp") > F.col("node")).cast("long")).alias("bad_min"),
        ).collect()[0]
        assert hygiene.n == hygiene.n_nodes, "one label row per node"
        assert hygiene.bad_min == 0, "min-id labeling: comp must be <= node id"

        # each component's label is the min member id (not just any member)
        bad_label = (
            comps.groupBy("comp")
            .agg(F.min("node").alias("mn"))
            .filter(F.col("comp") != F.col("mn"))
            .count()
        )
        assert bad_label == 0, "component label must equal its min node id"

        # edge consistency against the SAME edge set the query builds
        from mini_project_big_data_analysis_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )
        from mini_project_big_data_analysis_spark.queries.base import load

        docs = load(spark, SF10_DIR, "documents")
        edges = ngram_jaccard_pairs(
            docs, "doc_id", "text", block_words=8, threshold=0.3
        )
        la = comps.select(
            F.col("node").alias("id_a"), F.col("comp").alias("ca")
        ).hint("merge")
        lb = comps.select(
            F.col("node").alias("id_b"), F.col("comp").alias("cb")
        ).hint("merge")
        split_edges = (
            edges.select("id_a", "id_b")
            .join(la, "id_a")
            .join(lb, "id_b")
            .filter(F.col("ca") != F.col("cb"))
            .count()
        )
        assert split_edges == 0, "an edge's endpoints landed in two components"

        # class consistency: every text class fully inside one component
        digested = _digested_docs(spark).filter(F.col("text").isNotNull())
        class_split = (
            digested.join(
                comps.select(F.col("node").alias("doc_id"), "comp"), "doc_id"
            )
            .groupBy("text")
            .agg(F.count_distinct("comp").alias("nc"))
            .filter(F.col("nc") != 1)
            .count()
        )
        assert class_split == 0, "a 100-copy text class split across components"
    finally:
        comps.unpersist()


def test_entity_match_dup_class_expansion_at_sf10(spark):
    """The round-9 entity-resolution join at 100-deep duplicate classes:
    sf10's customers are 100 key-shifted copies of sf0.1, so every
    distinct name forms an exact-dup class of 100. The planted structure
    makes the FULL ~1.7B-pair expansion checkable against the value-level
    problem, all as Spark aggregates:

    - value-level ground truth re-derives from the DISTINCT-name
      projection (the same operator at its sf0.1-sized input);
    - total pairs == value_pairs × 100² (cross-class member expansion)
      + n_classes × C(100,2) (intra-class, distance 0);
    - the intra-class pair count is exactly the distance-0 count whose
      name digests match, and no emitted pair exceeds the distance cap.

    A lost candidate key family, a broken class collapse, or a wrong
    expansion all break the arithmetic.
    """
    from mini_project_big_data_analysis_spark.operators.relational import (
        edit_distance_pairs,
    )
    from mini_project_big_data_analysis_spark.queries.base import load
    from mini_project_big_data_analysis_spark.queries.ext_mining_q import (
        ext_entity_match,
    )

    cust = load(spark, SF10_DIR, "customer")
    classes = cust.groupBy("c_nationkey", "c_name").agg(
        F.count(F.lit(1)).alias("s")
    )
    class_stats = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.sum(F.expr("s * (s - 1) / 2")).cast("long").alias("intra_expected"),
    ).first()
    assert class_stats["min_s"] == class_stats["max_s"] == 100  # planted depth
    # value-level ground truth: one representative per class
    reps = classes.select(
        F.xxhash64("c_nationkey", "c_name").alias("rid"), "c_name", "c_nationkey"
    )
    value_pairs = edit_distance_pairs(
        reps, id_col="rid", text_col="c_name", block_cols=["c_nationkey"]
    ).count()

    out = ext_entity_match(spark, SF10_DIR)
    agg = out.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("name_dist") == 0, 1).otherwise(0))
        .cast("long")
        .alias("d0"),
        F.max("name_dist").alias("max_d"),
    ).first()
    expected_total = value_pairs * 100 * 100 + class_stats["intra_expected"]
    assert agg["max_d"] <= 2
    assert agg["total"] == expected_total
    # distance-0 pairs = intra-class pairs + cross pairs of equal-name
    # classes; names are UNIQUE per class here (classes key on the name),
    # but two classes in the same nation can't share a name, so d0 is
    # exactly the intra expansion plus 100² per distance-0 VALUE pair.
    zero_value_pairs = (
        edit_distance_pairs(
            reps, id_col="rid", text_col="c_name", block_cols=["c_nationkey"]
        )
        .filter(F.col("dist") == 0)
        .count()
    )
    assert agg["d0"] == class_stats["intra_expected"] + zero_value_pairs * 100 * 100


def test_span_dedup_sf10_degenerate_closed_form(spark):
    """`ext_span_dedup` at sf10 admits an EXACT closed-form oracle: the
    100-deep replication makes every 8-token gram corpus-hot (each gram's
    weighted occurrence count is >= its class depth >= 100 >= 2), so every
    eligible doc's marked intervals merge into ONE island covering the
    whole token span — per doc with n >= 8 tokens, exactly one row
    (cut_start=0, cut_end=n-1, span_tokens=n, n_grams=n-7), and docs
    under 8 tokens produce nothing. The full 100x-expanded output is
    compared row-exactly against that derivation (same tokenizer
    expression as the operator), which checks the class collapse, the
    weighted hot threshold, the gap-islands merge, and the member
    expansion in one shot. The DuckDB twin at sf10 is a ~200M-row gram
    CTE into a quadratic join — the oracle, not the operator, is what
    cannot follow."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    docs = load(spark, SF10_DIR, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    expected = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", n_tok.alias("n"))
        .filter(F.col("n") >= 8)
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("cut_start"),
            (F.col("n") - 1).cast("long").alias("cut_end"),
            F.col("n").cast("long").alias("span_tokens"),
            (F.col("n") - 7).cast("long").alias("n_grams"),
        )
    )
    out = all_queries()["ext_span_dedup"].fn(spark, SF10_DIR)
    out = out.select(
        "doc_id",
        F.col("cut_start").cast("long"),
        F.col("cut_end").cast("long"),
        F.col("span_tokens").cast("long"),
        F.col("n_grams").cast("long"),
    )
    n_exp = expected.count()
    assert n_exp > 0
    assert out.count() == n_exp
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_containment_sf10_df_cap_is_semantics_not_a_gap(spark):
    """`ext_dedup_containment` at sf10 MUST emit zero pairs, and that is
    the operator's documented boilerplate-cap semantics doing its job,
    not a blind spot: every 5-token gram of every doc recurs in all
    >= 100 copies of its class, so every gram's document frequency is
    >= the class depth > _CONT_MAX_DF (20) and the rare-gram index is
    empty by construction — on BOTH engine sides (the oracle's HAVING
    count(*) <= 20 drops the same grams). The planted-depth and df
    arithmetic are asserted from the data so the empty output is proven
    forced, not vacuous; threshold behavior at real df profiles is
    oracle-checked at sf0.01/sf0.1/sf1."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load
    from mini_project_big_data_analysis_spark.queries.ext_dedup_q import (
        _CONT_MAX_DF,
    )

    docs = load(spark, SF10_DIR, "documents")
    min_depth = (
        docs.filter(F.col("text").isNotNull())
        .groupBy("text")
        .count()
        .agg(F.min("count"))
        .collect()[0][0]
    )
    assert min_depth >= 100, "fixture is not the 100-deep-copy profile"
    assert min_depth > _CONT_MAX_DF, "cap must be below the planted depth"
    assert all_queries()["ext_dedup_containment"].fn(spark, SF10_DIR).count() == 0


def test_components_sf10_collapse_invariance(spark):
    """`ext_dedup_components` at sf10: the component labeling must be
    exactly the VALUE-level labeling expanded through the dup classes.
    Jaccard and the prefix block key are pure functions of the text, so
    the sf10 edge set is the value-level edge set expanded + intra-class
    cliques; therefore (a) every non-NULL text class appears in full and
    lands in ONE component, and (b) that component label equals the label
    from running the SAME operator on the distinct-text projection
    (id = class min doc_id) — isolated classes label as their own min.
    The DuckDB recursive-CTE oracle on the ~25M-edge sf10 graph is the
    infeasible side; the distinct-projection differential is the exact
    replacement."""
    from mini_project_big_data_analysis_spark.operators.components import (
        connected_components,
    )
    from mini_project_big_data_analysis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    docs = _digested_docs(spark)
    sizes = docs.filter(F.col("text").isNotNull()).groupBy("text").agg(
        F.count(F.lit(1)).alias("s"), F.min("doc_id").alias("min_id")
    )
    total_docs = sizes.agg(F.sum("s")).collect()[0][0]

    out = all_queries()["ext_dedup_components"].fn(spark, SF10_DIR)
    per_class = (
        out.join(
            docs.select(F.col("doc_id").alias("node"), "text").hint("merge"),
            "node",
        )
        .groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.count_distinct("comp").alias("n_comps"),
            F.min("comp").alias("comp"),
        )
        .join(sizes, "text")
    )
    bad = per_class.agg(
        F.sum((F.col("n_nodes") != F.col("s")).cast("long")).alias("incomplete"),
        F.sum((F.col("n_comps") != 1).cast("long")).alias("split"),
        F.sum("n_nodes").alias("nodes_total"),
    ).collect()[0]
    assert bad.incomplete == 0, "a class is missing members from the labeling"
    assert bad.split == 0, "a class fractured across components"
    assert bad.nodes_total == total_docs, "labeling must cover every non-NULL doc"

    raw = load(spark, SF10_DIR, "documents").filter(F.col("text").isNotNull())
    distinct_docs = raw.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    comp_v = connected_components(
        ngram_jaccard_pairs(
            distinct_docs, "doc_id", "text", block_words=8, threshold=0.3
        ),
        "id_a",
        "id_b",
    ).select(F.col("node").alias("min_id"), F.col("comp").alias("v_comp"))
    mismatches = (
        per_class.join(comp_v, "min_id", "left")
        .filter(F.col("comp") != F.coalesce("v_comp", "min_id"))
        .count()
    )
    assert mismatches == 0, "sf10 labels diverge from the value-level labeling"


def test_semdedup_sf10_collapse_invariance(spark):
    """`ext_semdedup` at sf10: survivors must be EXACTLY the survivors of
    the value-level problem. Identical vectors are pairwise cosine-1, so
    every 100-deep class is a clique inside one component and the
    component minimum — the survivor — is the min over its classes' min
    ids, i.e. precisely the id the distinct-(label, vector) projection
    (id = class min vec_id) carries. Running the SAME operator on that
    projection and demanding survivor-set equality checks the class
    collapse, the rep-graph components, and the drop assembly end-to-end
    at 100x scale; the recursive-CTE oracle at 200k nodes is the
    infeasible side. Preconditions (no zero-norm/NULL vectors, planted
    depth) are asserted from the data — zero-norm classes would
    legitimately survive whole and break set equality by design."""
    from mini_project_big_data_analysis_spark.operators.similarity import (
        semantic_dedup,
    )
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    emb = load(spark, SF10_DIR, "embeddings")
    sq = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    assert emb.filter(F.col("embedding").isNull() | (sq <= 0)).count() == 0

    classes = emb.groupBy(
        "label", F.md5(F.to_json(F.struct("embedding"))).alias("ck")
    ).agg(
        F.count(F.lit(1)).alias("s"),
        F.min("vec_id").alias("vec_id"),
        F.first("embedding").alias("embedding"),
    )
    depth = classes.agg(F.min("s"), F.count(F.lit(1))).collect()[0]
    assert depth[0] >= 100, "fixture is not the 100-deep-copy profile"

    value_out = semantic_dedup(
        classes.select("vec_id", "label", "embedding"),
        threshold=0.3,
        block_col="label",
    ).select("vec_id")
    out = all_queries()["ext_semdedup"].fn(spark, SF10_DIR).select("vec_id")
    n_out, n_value = out.count(), value_out.count()
    assert n_out == n_value
    assert out.exceptAll(value_out).count() == 0
    assert value_out.exceptAll(out).count() == 0
    # the planted dups guarantee real drops: survivors < classes <= corpus
    assert n_out <= depth[1] < emb.count()


def test_emb_neardup_sf10_class_expansion_arithmetic(spark):
    """`ext_emb_neardup` at sf10, pinned the entity-match way: cosine and
    the label block are pure functions of the (vector, label) pair, so
    the full pair expansion is checkable arithmetically against the
    value-level problem (the same operator over one rep per distinct
    (label, vector) class):

    - total pairs == sum over classes C(s,2)   [intra: cosine exactly 1]
                   + sum over value pairs s_a*s_b  [cross expansion];
    - pairs at rounded cosine 1.0 == the intra total plus the expansion
      of value pairs that themselves verify at 1.0;
    - pairs are unique, canonical (id_a < id_b), and >= the threshold.

    A lost triangle task, a broken block partition, or a wrong rounding
    boundary all break the arithmetic. The DuckDB twin is a ~2 x 10^9-row
    within-label quadratic join at this scale — the classified
    oracle-capacity gap, same category as the band join."""
    from mini_project_big_data_analysis_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    emb = load(spark, SF10_DIR, "embeddings")
    classes = emb.groupBy(
        "label", F.md5(F.to_json(F.struct("embedding"))).alias("ck")
    ).agg(
        F.count(F.lit(1)).alias("s"),
        F.min("vec_id").alias("vec_id"),
        F.first("embedding").alias("embedding"),
    )
    cls = classes.agg(
        F.sum(F.expr("s * (s - 1) / 2")).cast("long").alias("intra"),
        F.min("s").alias("min_s"),
    ).collect()[0]
    assert cls.min_s >= 100, "fixture is not the 100-deep-copy profile"

    sizes = classes.select("vec_id", "s")
    value_pairs = embedding_near_dup_pairs(
        classes.select("vec_id", "label", "embedding"),
        threshold=0.3,
        block_col="label",
    )
    vp = (
        value_pairs.join(
            F.broadcast(sizes.select(F.col("vec_id").alias("id_a"), F.col("s").alias("sa"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("vec_id").alias("id_b"), F.col("s").alias("sb"))),
            "id_b",
        )
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("long").alias("cross"),
            F.sum(
                F.when(F.col("cosine_sim") == 1.0, F.col("sa") * F.col("sb"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("cross_exact1"),
        )
        .collect()[0]
    )

    out = all_queries()["ext_emb_neardup"].fn(spark, SF10_DIR)
    agg = out.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("id_a", "id_b").alias("nd"),
        F.min("cosine_sim").alias("min_v"),
        F.max("cosine_sim").alias("max_v"),
        F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("bad_order"),
        F.sum((F.col("cosine_sim") == 1.0).cast("long")).alias("exact1"),
    ).collect()[0]
    assert agg.bad_order == 0
    assert agg.nd == agg.total, "duplicate pairs emitted"
    assert agg.min_v >= 0.3 and agg.max_v <= 1.0
    expected_total = cls.intra + (vp.cross or 0)
    assert agg.total == expected_total, (
        f"pair expansion: got {agg.total}, expected {expected_total} "
        f"(intra {cls.intra} + cross {vp.cross})"
    )
    assert agg.exact1 == cls.intra + (vp.cross_exact1 or 0)
