"""Source/sink queries (SURVEY.md §2.1).

The reference's sources are a REST poll loop (producer.py:15-24), a Kafka
consumer (consumer.py:18-25) and a Mongo full scan (app.py:35-36); its sinks
are a Kafka JSON producer (producer.py:27-30,40-41) and insert_one
(consumer.py:78). Batch declared forms: schema'd parquet scans, a typed JSON
parse of the events props payload, a to_json/from_json round-trip (the Kafka
value codec), and a bulk parquet append that is read back (sink proof is the
round-trip, which is *stronger* than rows-only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from .base import load, register


@register("src_parquet_scan", "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan with declared schema (producer.py:15-24 poll source's
    batch stand-in). Catalyst prunes columns; nothing else to do."""
    return load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@register("src_table_scan", "SELECT r_regionkey, r_name FROM region")
def src_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-collection scan (app.py:35-36 collection.find({}))."""
    return load(spark, sf_dir, "region")


@register(
    "src_json_scan",
    "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events",
)
def src_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-source analog (consumer.py:18-25): JSON payload parsed with an
    explicit schema into typed columns. PERMISSIVE: malformed → NULL."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id", F.from_json("props", "k BIGINT").getField("k").alias("k")
    )


@register(
    "snk_json_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def snk_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka value codec round-trip (producer.py:27-30 serializer +
    consumer.py:24 deserializer): to_json(struct(*)) → from_json(schema).
    The oracle is the identity — a lossless round-trip IS the check."""
    from ..sources.writers import json_roundtrip

    nation = load(spark, sf_dir, "nation")
    return json_roundtrip(nation, "n_nationkey INT, n_name STRING, n_regionkey INT")


@register(
    "snk_append_write",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 0",
)
def snk_append_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk append sink + scan-back (vs consumer.py:78 insert_one-per-record).
    Writing then re-reading proves the sink losslessly (stronger than the
    declared rows-only check)."""
    df = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    path = scratch_dir("append")
    df.write.mode("append").parquet(path)
    return spark.read.parquet(path)


@register(
    "snk_partitioned_write",
    """
    SELECT event_id, user_id, event_type, round(value, 6) AS value_r
    FROM events
    WHERE ts::DATE = (SELECT min(ts::DATE) FROM events)
    """,
)
def snk_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned sink + pruned scan-back: events written
    ``partitionBy(event_date)``, then read filtering one partition. The
    filter resolves to PartitionFilters at planning time — only 1 of ~30
    date directories is ever opened (the read path of the 100 TB layout;
    see tests/test_plans.py for the pruning assertion). The partition value
    is the corpus's min date, computed as a driver-side scalar — a literal
    partition predicate is exactly what makes static pruning possible."""
    from ..sources.writers import write_partitioned

    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = scratch_dir("part")
    write_partitioned(ev, path, ["event_date"])
    min_date = ev.agg(F.min("event_date")).collect()[0][0]
    # Explicit schema on the scan-back: a zero-row source writes zero
    # partition directories, and an inference read of the empty layout
    # fails (UNABLE_TO_INFER_SCHEMA). The writer knows the schema; at
    # scale the catalog would.
    return (
        spark.read.schema(ev.schema).parquet(path)
        .filter(F.col("event_date") == F.lit(min_date))
        .select(
            "event_id", "user_id", "event_type", F.round("value", 6).alias("value_r")
        )
    )


_WEATHER_POLL_ORACLE = """
    SELECT printf('city_%02d', i) AS city,
           c::INT AS cycle,
           20.0 + ((7*i + 31*c) % 150) / 10.0 AS temperature,
           (40 + (7*i + 31*c) * 3 % 55)::INT AS humidity,
           (990 + (7*i + 31*c) * 5 % 40)::INT AS pressure,
           (1700000000 + 300*c + 2*i)::BIGINT AS dt
    FROM generate_series(0, 15) s(i), generate_series(0, 9) t(c)
"""


@register("src_python_datasource", _WEATHER_POLL_ORACLE)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's REST-poll producer as a custom Python Data Source
    (PySpark 4 datasource API): schema declared up front, one input
    partition per city (16-way parallel poll), deterministic synthetic
    observations in place of the network call — which buys the byte-exact
    arithmetic oracle. The streaming variant (poll-cycle offsets,
    checkpoint-resumable) is exercised in tests/test_streaming_multimodal.py."""
    from ..sources.weather_source import register_weather_source

    register_weather_source(spark)
    return spark.read.format("weather_poll").option("cycles", 10).load()


@register(
    "src_orc_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan-back (source-format breadth: parquet/JSON/CSV/ORC —
    every columnar/text format built into Spark). ORC carries its own
    schema and column statistics, so the read needs no schema declaration
    and predicate pushdown works the same as parquet's."""
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch_dir("orc")
    nation.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


_CORRUPT_ORACLE = """
    WITH mutated AS (
        SELECT event_id,
               CASE WHEN event_id % 3 = 0
                    THEN substr(props, 1, length(props) - 1)
                    ELSE props END AS payload
        FROM events
    )
    SELECT event_id,
           CASE WHEN json_valid(payload)
                THEN (payload->>'$.k')::BIGINT END AS k,
           NOT json_valid(payload) AS is_corrupt
    FROM mutated
"""


@register("src_json_corrupt", _CORRUPT_ORACLE)
def src_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance (the reference consumer's defensive
    parsing, consumer.py:37-43, as engine semantics): every third payload is
    deterministically truncated into invalid JSON; PERMISSIVE from_json maps
    it to NULL instead of failing the job — corruption becomes a *queryable
    column*, the behavior a 100 TB ingest needs (one bad record must never
    kill a 10k-task stage). Oracle: DuckDB json_valid + ->> extraction."""
    events = load(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 3 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    # corruption is detected via the corrupt-record column, NOT via k IS
    # NULL: a valid {"k": null} payload is k-less but not corrupt, and
    # from_json returns a struct of nulls (not a null struct) on bad input
    parsed = F.from_json(
        payload,
        "k BIGINT, _corrupt STRING",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    return events.select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("_corrupt").isNotNull().alias("is_corrupt"),
    )


@register(
    "snk_upsert_write",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS total_r,
           CASE WHEN o_custkey < 50 THEN 'UPDATED' ELSE o_orderpriority END
             AS o_orderpriority
    FROM orders
    """,
)
def snk_upsert_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE/upsert sink (the reference's Mongo upsert-by-_id,
    consumer.py:78): base table written bucket-partitioned, then an update
    batch (o_custkey < 50 with a rewritten priority) applied TWICE —
    double delivery, the at-least-once failure mode. The oracle is the
    single-application result: matching keys replaced exactly once, others
    untouched — proving the merge is idempotent under key collision and
    rewrites only the affected bucket directories (partition-scoped, never
    a full-table rewrite)."""
    from ..sources.writers import upsert_parquet

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = scratch_dir("upsert")
    upsert_parquet(spark, path, base, keys=["o_orderkey"])
    updates = base.filter(F.col("o_custkey") < 50).withColumn(
        "o_orderpriority", F.lit("UPDATED")
    )
    upsert_parquet(spark, path, updates, keys=["o_orderkey"])  # delivery 1
    merged = upsert_parquet(spark, path, updates, keys=["o_orderkey"])  # replay
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 6).alias("total_r"),
        "o_orderpriority",
    )


@register(
    "snk_compact_small_files",
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier",
)
def snk_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction maintenance op: a 32-fragment write (the
    streaming-append decay mode) rewritten into target-size files via a
    shuffle-free coalesce sized from actual on-disk bytes; identity oracle
    proves losslessness, tests pin the file-count drop."""
    from ..sources.writers import compact_files

    frag = scratch_dir("frag")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    sup.repartition(32).write.parquet(frag)
    return compact_files(spark, frag, target_bytes=64 * 1024 * 1024)


@register(
    "join_dpp_partitioned",
    """
    SELECT ts::DATE AS event_date,
           count(*) AS n,
           round(avg(value), 6) AS avg_value
    FROM events
    WHERE strftime(ts::DATE, '%w') IN ('0', '6')
    GROUP BY 1
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is written partitioned by
    event_date; the weekend filter lives on the DIM side only, so static
    pruning sees nothing to prune — at runtime Spark evaluates the dim,
    builds the surviving date set, and injects it into the fact scan's
    PartitionFilters (``dynamicpruningexpression`` — pinned in
    tests/test_plans.py). At 100 TB this is the difference between scanning
    ~2/7 of the date directories and scanning all of them; no predicate
    duplication needed on the fact side."""
    from ..sources.writers import write_partitioned

    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = scratch_dir("dpp")
    facts = ev.select("event_date", "value")
    write_partitioned(facts, path, ["event_date"])
    # explicit schema: survives a zero-partition (empty-source) layout
    fact = spark.read.schema(facts.schema).parquet(path)
    dim = (
        ev.select("event_date")
        .distinct()
        .filter(F.dayofweek("event_date").isin(1, 7))  # Sun=1, Sat=7
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "src_text_roundtrip",
    "SELECT text AS value FROM documents",
)
def src_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text sink + source (the fifth built-in format next to parquet/
    JSON/CSV/ORC): one line per document, read back as the single ``value``
    column — the raw-corpus interchange format text pipelines actually
    exchange. Line-per-record requires newline-free rows (the fixture
    corpus is); anything richer belongs in the structured formats."""
    docs = load(spark, sf_dir, "documents")
    path = scratch_dir("text")
    docs.select(F.col("text").alias("value")).write.text(path)
    return spark.read.text(path)


_TIME_TRAVEL_ORACLE = """
    SELECT n_nationkey,
           n_name AS n_name_v0,
           CASE WHEN n_nationkey < 5 THEN n_name || '_v2' ELSE n_name END
               AS n_name_v1,
           n_nationkey < 5 AS changed
    FROM nation
"""


@register("snk_time_travel", _TIME_TRAVEL_ORACLE)
def snk_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned sink with time travel (sources/writers.py
    write_snapshot/read_snapshot): commit the dimension as v0, commit an
    updated v1 (first five names rewritten), then read BOTH versions back
    through the manifest and join them. Proves the two lakehouse
    guarantees in one hash: v0 is immutable under later writes (v0 side
    must equal the original table) and version resolution goes through
    the atomically-swapped manifest, not directory listing. The v0⋈v1
    join broadcasts (dimension-sized both sides)."""
    from ..sources.writers import read_snapshot, write_snapshot

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table_dir = scratch_dir("tt")
    write_snapshot(nation, table_dir)
    v1 = nation.withColumn(
        "n_name",
        F.when(
            F.col("n_nationkey") < 5, F.concat("n_name", F.lit("_v2"))
        ).otherwise(F.col("n_name")),
    )
    write_snapshot(v1, table_dir)
    old = read_snapshot(spark, table_dir, 0).select(
        "n_nationkey", F.col("n_name").alias("n_name_v0")
    )
    new = read_snapshot(spark, table_dir, 1).select(
        "n_nationkey", F.col("n_name").alias("n_name_v1")
    )
    return old.join(F.broadcast(new), "n_nationkey").select(
        "n_nationkey",
        "n_name_v0",
        "n_name_v1",
        (F.col("n_name_v0") != F.col("n_name_v1")).alias("changed"),
    )


@register(
    "src_schema_evolution",
    """
    WITH unioned AS (
        SELECT event_id, value, NULL AS event_type
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, NULL AS value, event_type
        FROM events WHERE event_id % 2 = 1
    )
    SELECT count(*)::BIGINT              AS n_rows,
           count(value)::BIGINT          AS n_value,
           count(event_type)::BIGINT     AS n_type,
           round(sum(value), 4)          AS sum_value
    FROM unioned
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet writes with DIFFERENT columns
    (an old producer writing (event_id, value), a new one writing
    (event_id, event_type)) land in one table directory; a mergeSchema
    scan reconciles them into the union schema with NULLs for the columns
    each file lacks — the lakehouse answer to producers upgrading without
    a table rewrite.

    Scale note: schema merging is a FOOTER-ONLY operation (one metadata
    read per file at planning, no data scan), and per-file column pruning
    still applies afterwards. The oracle expresses the same union
    relationally. Aggregated output keeps the check row-order-free."""
    base = scratch_dir("evo")
    ev = load(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.parquet(
        os.path.join(base, "gen=1")
    )
    ev.filter(F.col("event_id") % 2 == 1).select("event_id", "event_type").write.parquet(
        os.path.join(base, "gen=2")
    )
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.count("event_type").alias("n_type"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "src_kafka_segment",
    """
    SELECT (row_number() OVER (ORDER BY n_nationkey) - 1)::BIGINT AS offset,
           strftime(to_timestamp(1700000000 +
                    (row_number() OVER (ORDER BY n_nationkey) - 1)),
                    '%Y-%m-%d %H:%M:%S') AS kafka_ts,
           n_nationkey AS nationkey,
           n_name      AS name,
           n_regionkey AS regionkey
    FROM nation
    """,
)
def src_kafka_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka log-segment replay end-to-end (consumer.py:18-25 without a
    broker): rows are serialized into a spec-conformant v2 RecordBatch
    segment (sources/kafka_wire.py:108 — the producer/broker role), the
    segment file is scanned back through ``read_kafka_segment`` (binaryFile
    scan → CRC-verified Arrow-batched parse into the exact
    `spark.read.format("kafka")` wire frame), and the JSON values are
    decoded into typed columns. Offsets and broker timestamps come OUT of
    the wire bytes, so the oracle's row_number/epoch mirror checks the
    codec, not just the payload.

    The encode side collects the nation dim driver-side — bounded by
    construction (a constant-size dim, same bound class as the centroid
    collects, operators/similarity.py:292). A 100 TB replay keeps one task
    per segment file (brokers cap segments at log.segment.bytes); only
    this fixture's *construction* is driver-side."""
    import json as _json

    from ..sources.kafka_wire import encode_record_batch, read_kafka_segment

    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    records = [
        (
            str(r.n_nationkey).encode(),
            _json.dumps(
                {"nationkey": r.n_nationkey, "name": r.n_name,
                 "regionkey": r.n_regionkey},
                sort_keys=True,
            ).encode(),
        )
        for r in rows
    ]
    seg_dir = scratch_dir("kseg")
    os.makedirs(seg_dir)
    with open(os.path.join(seg_dir, "00000000000000000000.log"), "wb") as f:
        f.write(
            encode_record_batch(
                records, base_timestamp_ms=1_700_000_000_000,
                timestamp_step_ms=1000,
            )
        )
    wire = read_kafka_segment(spark, seg_dir, topic="nation")
    decoded = F.from_json(
        F.col("value").cast("string"),
        "nationkey INT, name STRING, regionkey INT",
    )
    return wire.select(
        "offset",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("kafka_ts"),
        decoded.getField("nationkey").alias("nationkey"),
        decoded.getField("name").alias("name"),
        decoded.getField("regionkey").alias("regionkey"),
    )


@register(
    "src_jdbc_scan",
    """
    SELECT c_custkey, c_name, c_acctbal, c_nationkey
    FROM customer
    WHERE c_acctbal > 1000
    """,
)
def src_jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned JDBC scan against a real SQL engine (embedded Derby —
    the store JdbcKeyedStore, sources/writers.py, uses for the MERGE seam;
    the reference's equivalent external store is Mongo, consumer.py:12-13):
    the customer dim is published to the database, then read back with
    ``partitionColumn/numPartitions`` splitting the key range into 4
    parallel range-scan tasks and the acctbal predicate pushed into the
    database (each task issues its own bounded WHERE query — this is how
    Spark parallelizes any JDBC source at cluster scale; 100 TB fact
    tables don't live in JDBC, dims and control tables do).

    Oracle = the same projection/filter on the parquet dim: round-tripping
    through Derby's DOUBLE/VARCHAR types must be lossless."""
    from ..sources.writers import DERBY_DRIVER, derby_embedded_url

    db_dir = os.path.join(scratch_dir("jdbc"), "db")
    url = derby_embedded_url(db_dir)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    cust.write.format("jdbc").option("url", url).option("dbtable", "cust").option(
        "driver", DERBY_DRIVER
    ).save()
    hi = cust.agg(F.max("c_custkey")).first()[0]  # bounded scalar (dim max key)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cust")
        .option("driver", DERBY_DRIVER)
    )
    if hi is not None:  # empty dim ⇒ no key range ⇒ single-task read
        reader = (
            reader.option("partitionColumn", "c_custkey")
            .option("lowerBound", 1)
            .option("upperBound", int(hi) + 1)
            .option("numPartitions", 4)
        )
    return reader.load().filter(F.col("c_acctbal") > 1000)


@register(
    "src_xml_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink (spark-xml graduated into Spark 4 core): the
    nation dim is written as row-tagged XML and read back with an explicit
    schema — the feed format half of enterprise ingest still arrives in.
    The oracle is the identity: a lossless round-trip IS the check.
    Distributed shape identical to the csv/text round-trips (one task per
    file split on read; rowTag framing is splittable on write)."""
    out = scratch_dir("xml")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.format("xml").option("rowTag", "nation").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(out)
    )


_FOOTER_BUCKET = 128

_FOOTER_ORACLE = f"""
SELECT (doc_id // {_FOOTER_BUCKET})::BIGINT AS bucket,
       count(*)::BIGINT AS n_rows,
       min(n_chars)::BIGINT AS min_nchars,
       max(n_chars)::BIGINT AS max_nchars
FROM documents
GROUP BY doc_id // {_FOOTER_BUCKET}
"""


@register("src_footer_stats", _FOOTER_ORACLE)
def src_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-skipping stats plane made first-class: documents are
    written as bucket-partitioned parquet, then per-file FOOTER metadata
    (row counts + column min/max, parsed with pyarrow inside executors —
    the data pages are never read) is aggregated into a per-bucket stats
    manifest. The oracle recomputes the same stats relationally, so the
    check proves the footers a pruning planner would trust agree exactly
    with the data — the Iceberg/Delta manifest-stats contract.

    Scale shape: the write is one shuffle on the bucket key; the stats
    scan is `binaryFile` (one task per file) + an Arrow-batched footer
    parse that reads O(KB) per file regardless of file size — this is why
    manifest-driven pruning costs metadata-plane IO only — and the final
    rollup is a tiny hash-agg on bucket."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    out = scratch_dir("footer_stats")
    (
        docs.select(
            "doc_id",
            "n_chars",
            (F.col("doc_id") / _FOOTER_BUCKET).cast("long").alias("bucket"),
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out)
    )

    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).option("recursiveFileLookup", "true").load(out)

    def parse_footers(batches):
        import io
        import re as _re

        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = _re.search(r"bucket=(\d+)", path)
                if not m:
                    continue
                meta = pq.ParquetFile(io.BytesIO(content)).metadata
                for i in range(meta.num_row_groups):
                    rg = meta.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        if c.path_in_schema == "n_chars":
                            rows.append(
                                (
                                    int(m.group(1)),
                                    rg.num_rows,
                                    int(c.statistics.min),
                                    int(c.statistics.max),
                                )
                            )
            yield pd.DataFrame(
                rows, columns=["bucket", "n_rows", "min_nchars", "max_nchars"]
            )

    stats = files.select("path", "content").mapInPandas(
        parse_footers,
        "bucket long, n_rows long, min_nchars long, max_nchars long",
    )
    return stats.groupBy("bucket").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_nchars").alias("min_nchars"),
        F.max("max_nchars").alias("max_nchars"),
    )
