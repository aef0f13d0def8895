"""Round-3 surfaces: keyed upsert sink semantics, one-scan dashboard
refresh plan and freshness, Kafka wire-schema decode composability, and
fixture-scale ANN recall pins."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _make_store(kind, spark, tmp_path):
    from mini_project_big_data_analysis_spark.sources.writers import (
        DERBY_DRIVER,
        JdbcKeyedStore,
        ParquetBucketStore,
        derby_embedded_url,
    )

    if kind == "parquet":
        return ParquetBucketStore(spark, str(tmp_path / "upsert_pq"))
    if kind == "document":
        from mini_project_big_data_analysis_spark.sources.writers import (
            DocumentKeyedStore,
            InMemoryDocumentCollection,
        )

        return DocumentKeyedStore(spark, InMemoryDocumentCollection())
    return JdbcKeyedStore(
        spark,
        derby_embedded_url(str(tmp_path / "derbydb")),
        "upsert_t",
        driver=DERBY_DRIVER,
    )


@pytest.mark.parametrize("kind", ["parquet", "jdbc", "document"])
def test_upsert_replaces_matched_appends_unmatched_idempotently(spark, tmp_path, kind):
    """The MERGE contract holds through BOTH concrete connector backends —
    bucket-partitioned parquet, a real SQL engine over JDBC (embedded
    Derby, whose driver ships inside Spark), and the document store (the
    reference's MongoDB sink shape, consumer.py:78, on the in-memory
    pymongo-surface stand-in) — proving the KeyedTableStore seam is an
    implementation boundary, not a parquet-shaped assumption."""
    from mini_project_big_data_analysis_spark.sources.writers import upsert_into

    store = _make_store(kind, spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, s string, v double"
    )
    upsert_into(store, base, keys=["k"])

    updates = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], "k long, s string, v double"
    )
    expected = {(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (4, "d", 4.0)}
    upsert_into(store, updates, keys=["k"])
    once = store.read_all()
    assert {tuple(r) for r in once.select("k", "s", "v").collect()} == expected
    # double delivery (at-least-once replay) is a no-op
    upsert_into(store, updates, keys=["k"])
    twice = store.read_all()
    assert {tuple(r) for r in twice.select("k", "s", "v").collect()} == expected


@pytest.mark.parametrize("kind", ["parquet", "jdbc", "document"])
def test_upsert_of_an_empty_batch_ends_at_the_bucket_collect(
    spark, tmp_path, kind, monkeypatch
):
    """A zero-row batch stops the MERGE at the affected-bucket collect, on
    every backend: the table reads the same, no job starts after that one
    collect, and the parquet store does not rewrite its schema sidecar."""
    from perfbench.spans import JobCounter

    from mini_project_big_data_analysis_spark.sources.writers import upsert_into

    store = _make_store(kind, spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, s string, v double"
    )
    upsert_into(store, base, keys=["k"])
    before = {tuple(r) for r in store.read_all().collect()}
    sidecar = tmp_path / "upsert_pq" / "_schema.json"
    inode = sidecar.stat().st_ino if kind == "parquet" else None

    jobs = JobCounter(spark)
    frame_cls = type(base)
    collect = frame_cls.collect
    next_job_after_collect = []

    def counted_collect(self):
        rows = collect(self)
        next_job_after_collect.append(jobs.next_job())
        return rows

    monkeypatch.setattr(frame_cls, "collect", counted_collect)
    upsert_into(store, base.filter(F.col("k") < 0), keys=["k"])
    end = jobs.next_job()
    monkeypatch.undo()

    assert len(next_job_after_collect) == 1, "only the affected-bucket collect"
    assert end == next_job_after_collect[0], "a job started after the collect"
    assert {tuple(r) for r in store.read_all().collect()} == before
    if kind == "parquet":
        assert sidecar.stat().st_ino == inode, "the sidecar was rewritten"


def test_document_store_recovers_schema_from_populated_collection(spark):
    """ADVICE r7: constructed over an already-populated collection (the
    live-Mongo path — ``MongoClient(...)[db][coll]`` handed in),
    ``exists()`` is True so ``initialize`` never runs; the first read must
    recover the schema from storage the way the parquet/JDBC backends do,
    not crash on ``self._schema.fields``. Also pins the empty-collection
    +no-schema diagnostic and the explicit-schema constructor path."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        DocumentKeyedStore,
        InMemoryDocumentCollection,
        upsert_into,
    )

    coll = InMemoryDocumentCollection()
    seed = DocumentKeyedStore(spark, coll)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, s string, v double"
    )
    upsert_into(seed, base, keys=["k"])

    # fresh store over the live collection: no initialize, schema inferred
    fresh = DocumentKeyedStore(spark, coll)
    assert fresh.exists()
    got = {tuple(r) for r in fresh.read_all().select("k", "s", "v").collect()}
    assert got == {(1, "a", 1.0), (2, "b", 2.0)}
    # and a MERGE through the fresh store works end-to-end
    upd = spark.createDataFrame([(2, "B", 20.0)], "k long, s string, v double")
    upsert_into(fresh, upd, keys=["k"])
    merged = fresh.read_all()
    assert {tuple(r) for r in merged.select("k", "s", "v").collect()} == {
        (1, "a", 1.0),
        (2, "B", 20.0),
    }

    # explicit-schema constructor path
    coll2 = InMemoryDocumentCollection()
    coll2.docs.extend(dict(d) for d in coll.docs)
    typed = DocumentKeyedStore(spark, coll2, schema=fresh._schema)
    assert typed.read_all().count() == 2

    # empty collection + no schema: a clear diagnostic, not AttributeError
    empty = DocumentKeyedStore(spark, InMemoryDocumentCollection())
    with pytest.raises(ValueError, match="no schema"):
        empty.read_all()


def test_document_store_schema_inference_survives_live_mongo_debris(spark):
    """ADVICE r8: live-pymongo collections hand back documents with '_id'
    (an ObjectId ``insert_many`` added — not Spark-mappable), heterogeneous
    key sets, and sometimes a field that is NULL across the whole sample.
    ``_ensure_schema`` must project/strip '_id', normalize the sample to
    the union of keys, and widen all-NULL fields to string instead of
    failing inference."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        DocumentKeyedStore,
        InMemoryDocumentCollection,
    )

    class FakeObjectId:  # stand-in for bson.ObjectId: not Spark-mappable
        pass

    class ProjectingCollection(InMemoryDocumentCollection):
        """pymongo-shaped two-arg find(filter, projection) honoring
        {'_id': 0} — exercises the server-side projection branch."""

        def find(self, query=None, projection=None):
            docs = super().find(query)
            if projection == {"_id": 0}:
                return [{k: v for k, v in d.items() if k != "_id"} for d in docs]
            assert projection is None
            return docs

    debris = [
        {"_id": FakeObjectId(), "k": 1, "s": "a", "extra": None},
        {"_id": FakeObjectId(), "k": 2, "v": 2.5, "extra": None},  # no 's'
        {"_id": FakeObjectId(), "k": 3, "s": "c", "v": 3.5, "extra": None},
    ]

    for coll in (ProjectingCollection(), InMemoryDocumentCollection()):
        coll.docs.extend(dict(d) for d in debris)
        store = DocumentKeyedStore(spark, coll)
        # 'extra' is NULL across the sample → the intentional widen-to-string
        # warning must fire (and the suite stays warning-clean via the pin)
        with pytest.warns(UserWarning, match="widened to string"):
            store._ensure_schema()
        names = [f.name for f in store._schema.fields]
        assert "_id" not in names, "ObjectId field leaked into the schema"
        assert set(names) == {"k", "s", "v", "extra"}, "union of keys expected"
        assert store._schema["extra"].dataType.simpleString() == "string"
        got = {
            (r["k"], r["s"], r["v"], r["extra"])
            for r in store.read_all().collect()
        }
        assert got == {(1, "a", None, None), (2, None, 2.5, None), (3, "c", 3.5, None)}


def test_jdbc_store_bucket_read_is_pushed_down(spark, tmp_path):
    """read_buckets' __bucket filter must reach the remote engine as a
    pushed predicate (the JDBC analogue of partition pruning) — a full
    remote scan + local filter would be the 100 TB scale-killer."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        DERBY_DRIVER,
        JdbcKeyedStore,
        derby_embedded_url,
    )

    store = JdbcKeyedStore(
        spark, derby_embedded_url(str(tmp_path / "derbypd")), "pd_t", DERBY_DRIVER
    )
    df = spark.createDataFrame(
        [(i, "x", float(i), i % 4) for i in range(16)],
        "k long, s string, v double, __bucket int",
    )
    store.initialize(df)
    plan = store.read_buckets([1, 2])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(__bucket" in plan, plan
    got = {r["k"] for r in store.read_buckets([1, 2]).collect()}
    assert got == {i for i in range(16) if i % 4 in (1, 2)}


def test_document_store_merge_is_shard_key_pruned(spark):
    """Through the document backend, a MERGE must touch only the shard-key
    buckets its update keys land in: every find the merge issues carries a
    ``{"__bucket": {"$in": …}}`` predicate (never a full-collection scan),
    and delete_many targets exactly the touched buckets — the Mongo
    analogue of parquet partition pruning / the JDBC pushed IN-list."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        DocumentKeyedStore,
        InMemoryDocumentCollection,
        upsert_into,
    )

    coll = InMemoryDocumentCollection()
    store = DocumentKeyedStore(spark, coll)
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, v double"
    )
    upsert_into(store, base, keys=["k"])
    all_buckets = {d["__bucket"] for d in coll.docs}
    assert len(all_buckets) > 2  # the fixture really spans buckets

    coll.ops.clear()
    updates = spark.createDataFrame([(7, 700.0), (99, 99.0)], "k long, v double")
    upsert_into(store, updates, keys=["k"])

    first_write = next(
        i for i, (op, _) in enumerate(coll.ops) if op in ("delete_many", "insert_many")
    )
    merge_reads = [q for op, q in coll.ops[:first_write] if op == "find"]
    deletes = [q for op, q in coll.ops if op == "delete_many"]
    assert merge_reads and deletes
    touched = set()
    for q in merge_reads:
        assert "__bucket" in q and "$in" in q["__bucket"], q
        touched.update(q["__bucket"]["$in"])
    assert len(touched) <= 2  # two update keys → at most two buckets read
    for q in deletes:
        assert set(q["__bucket"]["$in"]) <= touched, q
    # untouched buckets kept exactly their original documents, and the
    # merge semantics landed: 7 replaced, 99 appended, everything else kept
    bucket_of = {d["k"]: d["__bucket"] for d in coll.docs}
    untouched_docs = {
        (d["k"], d["v"]) for d in coll.docs if d["__bucket"] not in touched
    }
    assert untouched_docs == {
        (i, float(i)) for i in range(40) if bucket_of[i] not in touched
    }
    final = {(d["k"], d["v"]) for d in coll.docs}
    assert (7, 700.0) in final and (99, 99.0) in final and (7, 7.0) not in final
    assert len(final) == 41


def test_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    from mini_project_big_data_analysis_spark.sources.writers import (
        ParquetBucketStore,
        upsert_into,
    )

    path = str(tmp_path / "upsert_scoped")
    store = ParquetBucketStore(spark, path)
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, v double"
    )
    upsert_into(store, base, keys=["k"])

    def files_per_bucket() -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for d in os.listdir(path):
            if d.startswith("__bucket="):
                out[d] = set(os.listdir(os.path.join(path, d)))
        return out

    before = files_per_bucket()
    assert len(before) > 1  # multiple bucket directories exist
    updates = spark.createDataFrame([(7, 700.0)], "k long, v double")
    upsert_into(store, updates, keys=["k"])
    after = files_per_bucket()
    changed = {b for b in before if after.get(b) != before[b]}
    # exactly the single bucket directory owning k=7 was rewritten
    assert len(changed) == 1
    untouched = set(before) - changed
    assert untouched and all(after[b] == before[b] for b in untouched)


def test_failed_merge_write_leaves_the_table_as_it_was(spark, tmp_path):
    """A MERGE whose merged frame raises while it is written commits
    nothing: Spark's dynamic-overwrite commit renames bucket dirs only
    after every task succeeded and deletes its staging dir on abort, so
    the table reads as before and its root lists no staging dir."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        N_BUCKETS,
        ParquetBucketStore,
        upsert_into,
    )

    path = str(tmp_path / "failed_merge")
    store = ParquetBucketStore(spark, path)
    upsert_into(
        store,
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, s string"),
        keys=["k"],
    )
    before = store.read_all()
    rows, schema = sorted(map(tuple, before.collect())), before.schema
    listing = sorted(os.listdir(path))

    @F.udf("string")
    def fail_on_seven(k, s):
        if k == 7:
            raise ValueError("merged row k=7 cannot be evaluated")
        return s

    updates = spark.createDataFrame([(i, f"w{i}") for i in range(40)], "k long, s string")
    bucket = F.pmod(F.xxhash64("k"), F.lit(N_BUCKETS)).cast("int")
    buckets = sorted(r[0] for r in updates.select(bucket).distinct().collect())
    merged = updates.select("k", fail_on_seven("k", "s").alias("s"), bucket.alias("__bucket"))
    with pytest.raises(Exception, match="cannot be evaluated"):
        store.overwrite_buckets(merged, buckets)

    after = store.read_all()
    assert after.schema == schema
    assert sorted(map(tuple, after.collect())) == rows
    assert sorted(os.listdir(path)) == listing
    assert not [n for n in os.listdir(path) if "staging" in n]
    assert os.listdir(tmp_path) == ["failed_merge"]  # nor beside it


def test_cached_dashboard_reads_source_once(spark, sf_dir):
    """One refresh is one file scan and one aggregate: no cached relation,
    no per-metric branch, at most 4 Spark jobs per materialisation."""
    from perfbench.spans import JobCounter

    from mini_project_big_data_analysis_spark.queries.dashboard_q import (
        cached_dashboard_metrics,
    )
    from mini_project_big_data_analysis_spark.sources.readers import read_table

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # the session is shared with other tests
    jobs = JobCounter(spark)
    out = cached_dashboard_metrics(read_table(spark, sf_dir, "events"))
    for _ in range(2):
        first = jobs.next_job()
        rows = {(r.metric, r.key): r.value for r in out.collect()}
        assert jobs.next_job() - first <= 4
    assert cache_manager.isEmpty()
    # the final adaptive plan, without the initial plan AQE prints beside it
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "InMemoryTableScan" not in plan
    # and the metrics themselves are sane
    assert rows[("type_distinct", "all")] >= 1
    n_total = sum(v for (m, _), v in rows.items() if m == "type_count")
    assert n_total > 0


def test_cached_dashboard_sees_rewritten_events(spark, sf_dir, sf_dir_mid, tmp_path):
    """A refresh after ``events.parquet`` is rewritten in place reports the
    new file's rows, in the same session."""
    import shutil

    import pyarrow.parquet as pq

    from mini_project_big_data_analysis_spark.queries.dashboard_q import (
        agg_cached_dashboard,
    )

    events = str(tmp_path / "events.parquet")

    def type_count_total() -> float:
        rows = agg_cached_dashboard(spark, str(tmp_path)).collect()
        return sum(r.value for r in rows if r.metric == "type_count")

    shutil.copyfile(f"{sf_dir}/events.parquet", events)
    n_old = pq.ParquetFile(events).metadata.num_rows
    assert type_count_total() == n_old
    shutil.copyfile(f"{sf_dir_mid}/events.parquet", events)
    n_new = pq.ParquetFile(events).metadata.num_rows
    assert n_new != n_old
    assert type_count_total() == n_new


def test_kafka_wire_decode_composes_with_clean_and_agg(spark, sf_dir):
    """The broker swap is config, not code: a batch frame with the exact
    kafka wire schema runs the same decode → clean → window-agg graph and
    reproduces the direct batch answer."""
    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        KAFKA_WIRE_SCHEMA,
        clean_event_stream,
        decode_kafka_events,
        tumbling_agg,
    )
    from mini_project_big_data_analysis_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events").limit(200)
    wire = events.select(
        F.lit(None).cast("binary").alias("key"),
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "event_type",
                "value",
                "props",
                (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
            )
        )
        .cast("binary")
        .alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    declared = spark.createDataFrame([], KAFKA_WIRE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in wire.schema.fields] == [
        (f.name, f.dataType) for f in declared.fields
    ]
    decoded = decode_kafka_events(wire)
    # column-compatible with the file-source stream => same downstream graph
    assert [f.name for f in decoded.schema.fields] == [
        "event_id", "user_id", "event_type", "value", "props", "ts",
    ]
    agg = tumbling_agg(clean_event_stream(decoded))  # builds without a broker
    got = {
        (r.window_start, r.event_type): (r.avg_value, r.n_events)
        for r in agg.collect()
    }
    direct = (
        events.filter(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.date_format(
                F.date_trunc("hour", F.timestamp_seconds(F.unix_timestamp("ts"))),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("w"),
            "event_type",
        )
        .agg(F.round(F.avg("value"), 6).alias("a"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == {(r.w, r.event_type): (r.a, r.n) for r in direct}


def test_registered_ann_and_ivf_recall_vs_exact(spark, sf_dir):
    """recall@10 of the approximate registered queries vs the exact
    brute-force answer on the driver fixture — the quantitative guarantee
    the rows-only oracle can't express. Uniform-random vectors are the
    adversarial regime for LSH; the multi-table settings hold ≥0.9."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    reg = all_queries()
    truth: dict[int, list[int]] = {}
    for r in sorted(
        reg["ext_sim_topk"].fn(spark, sf_dir).collect(), key=lambda r: r.rank
    ):
        truth.setdefault(r.query_id, []).append(r.vec_id)
    # ivf floor: uniform-sphere fixtures bound any sublinear ANN's recall by
    # its scan fraction; at 8/16 probed cells the deterministic measured
    # recall is 0.80 — 0.75 leaves margin for runtime numeric drift without
    # accepting a scan-fraction-breaking regression.
    for qid, floor in [("ext_sim_ann", 0.9), ("ext_sim_ivf", 0.75)]:
        got: dict[int, set[int]] = {}
        for r in reg[qid].fn(spark, sf_dir).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(set(truth[q][:10]) & got.get(q, set())) for q in truth)
        total = sum(len(truth[q][:10]) for q in truth)
        recall = hits / total
        assert recall >= floor, f"{qid} recall@10 {recall:.2f} < {floor}"


@pytest.mark.skipif(
    not os.path.exists("testdata_sf1/embeddings.parquet"),
    reason="second-scale recall pin needs the derived sf1 fixture "
    "(gitignored build artifact — scripts/make_sf1.py)",
)
@pytest.mark.parametrize(
    "qid,floor",
    [
        # LSH recall is data-distribution-sensitive, so the fixture-scale pin
        # above does not transfer automatically; measured at the 10×-duplicate
        # sf1 corpus (round 11): ann 1.00, ivf 0.98. The dup-heavy regime is
        # EASIER for both (a query's 9 byte-identical clones share its bucket
        # and cell by construction, so ≥9/10 of the exact answer is free);
        # floors leave room for one runtime-drift miss beyond the measurement.
        ("ext_sim_ann", 0.95),
        ("ext_sim_ivf", 0.90),
    ],
)
def test_ann_recall_second_scale_point(spark, qid, floor):
    """recall@10 vs exact at testdata_sf1 — the 10× corpus whose duplicate
    profile is the opposite distribution regime from the uniform-random
    driver fixture (VERDICT r10 item 5)."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    reg = all_queries()
    sf1 = "testdata_sf1"
    truth: dict[int, list[int]] = {}
    for r in sorted(
        reg["ext_sim_topk"].fn(spark, sf1).collect(), key=lambda r: r.rank
    ):
        truth.setdefault(r.query_id, []).append(r.vec_id)
    got: dict[int, set[int]] = {}
    for r in reg[qid].fn(spark, sf1).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(set(truth[q][:10]) & got.get(q, set())) for q in truth)
    total = sum(len(truth[q][:10]) for q in truth)
    recall = hits / total
    assert recall >= floor, f"{qid} sf1 recall@10 {recall:.2f} < {floor}"


class _FakeStore:
    """In-memory KeyedTableStore: proves the MERGE algorithm only ever
    touches the connector surface (a Mongo/JDBC writer implements the same
    five methods), and records which buckets each overwrite replaced."""

    def __init__(self, spark):
        self.spark = spark
        self.buckets = None  # bucket_id -> list[Row]
        self.overwritten_bucket_sets = []

    def exists(self):
        return self.buckets is not None

    def initialize(self, bucketed):
        self.buckets = {}
        for row in bucketed.collect():
            self.buckets.setdefault(row["__bucket"], []).append(row)

    def read_buckets(self, bucket_ids):
        rows = [r for b in bucket_ids for r in self.buckets.get(b, [])]
        schema = "user_id long, event_type string, value double, __bucket int"
        return self.spark.createDataFrame(rows, schema)

    def overwrite_buckets(self, merged, buckets):
        rows = merged.collect()
        touched = {r["__bucket"] for r in rows}
        # upsert_into's bucket set is exactly the buckets of the merged rows
        assert sorted(buckets) == sorted(touched)
        self.overwritten_bucket_sets.append(touched)
        for b in touched:
            self.buckets[b] = []
        for r in rows:
            self.buckets[r["__bucket"]].append(r)

    def read_all(self):
        rows = [r for b in self.buckets.values() for r in b]
        schema = "user_id long, event_type string, value double, __bucket int"
        return self.spark.createDataFrame(rows, schema).drop("__bucket")


def test_upsert_into_fake_store_merges_and_scopes_io(spark):
    from mini_project_big_data_analysis_spark.sources.writers import upsert_into

    schema = "user_id long, event_type string, value double"
    first = spark.createDataFrame(
        [(i, "click", float(i)) for i in range(40)], schema
    )
    store = _FakeStore(spark)
    upsert_into(store, first, keys=["user_id"])
    assert store.read_all().count() == 40

    # second delivery: 5 replaced keys + 3 new keys
    second = spark.createDataFrame(
        [(i, "click", 100.0 + i) for i in range(5)]
        + [(100 + i, "view", float(i)) for i in range(3)],
        schema,
    )
    upsert_into(store, second, keys=["user_id"])
    out2 = store.read_all()
    rows = {r.user_id: r for r in out2.collect()}
    assert len(rows) == 43
    assert rows[0].value == 100.0 and rows[4].value == 104.0  # replaced
    assert rows[39].value == 39.0  # untouched key survives
    assert rows[102].event_type == "view"  # appended

    # I/O locality: the overwrite replaced ONLY the buckets the 8 update
    # keys hash into — never the whole table
    assert len(store.overwritten_bucket_sets) == 1
    touched = store.overwritten_bucket_sets[0]
    assert len(touched) <= 8

    # idempotence under replay: re-delivering the same batch changes nothing
    upsert_into(store, second, keys=["user_id"])
    out3 = store.read_all()
    assert sorted(map(tuple, out3.collect())) == sorted(map(tuple, out2.collect()))


def test_snapshot_crash_invisibility(spark, sf_dir, tmp_path):
    """A data directory without a manifest entry (crashed half-write) must
    be invisible: version resolution goes through the manifest only, and
    the manifest swap is the commit point."""
    import os

    from pyspark.sql import functions as F

    from mini_project_big_data_analysis_spark.queries.base import load
    from mini_project_big_data_analysis_spark.sources.writers import (
        read_snapshot,
        write_snapshot,
    )

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    d = str(tmp_path / "tt")
    assert write_snapshot(nation, d) == 0
    # simulate a crash: v1 data lands on disk, manifest never swapped
    nation.withColumn("n_name", F.lit("junk")).write.parquet(os.path.join(d, "v1"))
    assert read_snapshot(spark, d, 0).count() == nation.count()
    try:
        read_snapshot(spark, d, 1)
        raised = False
    except KeyError:
        raised = True
    assert raised  # uncommitted version is unreadable
    # next commit INTO THE CRASHED TABLE allocates past the orphan v1 dir
    # instead of colliding with it (errorifexists would wedge the table)
    v = write_snapshot(nation, d)
    assert v == 2
    assert read_snapshot(spark, d, 2).count() == nation.count()
    # the orphan remains uncommitted and unreadable
    try:
        read_snapshot(spark, d, 1)
        raised = False
    except KeyError:
        raised = True
    assert raised


def test_parquet_sidecar_schema_evolution_visible_across_store_instances(
    spark, tmp_path
):
    """A store object that already read the table sees the schema ANOTHER
    store object evolved it to: every scan reads the sidecar, so no
    instance keeps serving the pre-evolution schema (which would silently
    drop the new column from every read through it)."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        ParquetBucketStore,
    )

    path = str(tmp_path / "evolving")
    writer = ParquetBucketStore(spark, path)
    v1 = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k long, s string, __bucket int"
    )
    writer.initialize(v1)

    # a SECOND instance over the same path reads (and caches) the v1 schema
    reader = ParquetBucketStore(spark, path)
    assert set(reader.read_all().columns) == {"k", "s"}

    # a third instance evolves the schema via overwrite_buckets
    evolver = ParquetBucketStore(spark, path)
    v2 = spark.createDataFrame(
        [(1, "a", 9.9, 0), (2, "b", 8.8, 1)],
        "k long, s string, extra double, __bucket int",
    )
    evolver.overwrite_buckets(v2, [0, 1])

    # the stale-cached reader must see the evolved schema, not v1's
    got = reader.read_all()
    assert set(got.columns) == {"k", "s", "extra"}, (
        "second instance served a stale cached sidecar schema"
    )
    assert {tuple(r) for r in got.collect()} == {(1, "a", 9.9), (2, "b", 8.8)}


def test_document_store_id_projection_is_load_bearing(spark):
    """VERDICT r9 item 7: a pymongo-server-like stand-in that AUTO-INJECTS
    an ObjectId-like ``_id`` on every insert_many (what a real MongoDB
    does), honors the two-arg ``find(filter, projection)`` surface, and
    logs each find's projection. The full populated-collection lifecycle
    must work over it, AND the schema-inference read must have requested
    ``{"_id": 0}`` server-side — this test fails if the projection in
    ``_ensure_schema`` is ever dropped, instead of relying on the
    client-side strip to paper over the regression."""
    from mini_project_big_data_analysis_spark.sources.writers import (
        DocumentKeyedStore,
        InMemoryDocumentCollection,
        upsert_into,
    )

    class ObjectIdLike:  # bson.ObjectId stand-in: not Spark-mappable
        pass

    class MongoServerLikeCollection(InMemoryDocumentCollection):
        def insert_many(self, docs):
            super().insert_many([{"_id": ObjectIdLike(), **d} for d in docs])

        def find(self, query=None, projection=None):
            docs = super().find(query)  # logs ("find", query) in self.ops
            self.ops[-1] = ("find", query or {}, projection)
            if projection is None:
                return docs
            assert projection == {"_id": 0}, f"unsupported projection {projection}"
            return [{k: v for k, v in d.items() if k != "_id"} for d in docs]

    coll = MongoServerLikeCollection()
    seed = DocumentKeyedStore(spark, coll)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, s string, v double"
    )
    upsert_into(seed, base, keys=["k"])
    assert all("_id" in d for d in coll.docs), "stand-in failed to inject _id"

    # fresh store over the live collection: schema inference runs against
    # documents that REALLY carry ObjectId-like _id debris
    fresh = DocumentKeyedStore(spark, coll)
    upd = spark.createDataFrame([(2, "B", 20.0)], "k long, s string, v double")
    upsert_into(fresh, upd, keys=["k"])
    merged = fresh.read_all()
    assert {tuple(r) for r in merged.select("k", "s", "v").collect()} == {
        (1, "a", 1.0),
        (2, "B", 20.0),
    }
    assert "_id" not in {f.name for f in fresh._schema.fields}

    projected = [op for op in coll.ops if op[0] == "find" and op[2] == {"_id": 0}]
    assert projected, (
        "_ensure_schema never issued find({}, {'_id': 0}) — the server-side "
        "projection was dropped"
    )


def test_jdbc_exists_reads_only_a_failed_connect_as_absent(spark, tmp_path):
    """``JdbcKeyedStore.exists`` answers False when the JDBC connect itself
    fails (the database is not created yet); an error from anywhere else,
    such as a broken gateway, propagates instead of reading as absent."""
    from types import SimpleNamespace

    from mini_project_big_data_analysis_spark.sources.writers import (
        DERBY_DRIVER,
        JdbcKeyedStore,
    )

    missing = f"jdbc:derby:{tmp_path / 'never_created'}"
    assert not JdbcKeyedStore(spark, missing, "t", driver=DERBY_DRIVER).exists()

    def gateway_gone(url):
        raise ConnectionError("gateway gone")

    driver_manager = SimpleNamespace(getConnection=gateway_gone)
    jvm = SimpleNamespace(java=SimpleNamespace(sql=SimpleNamespace(DriverManager=driver_manager)))
    fake = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))
    with pytest.raises(ConnectionError, match="gateway gone"):
        JdbcKeyedStore(fake, missing, "t").exists()
