"""Batch sinks.

The reference writes row-at-a-time (``insert_one`` consumer.py:78, per-message
``flush()`` producer.py:41). The engine's sinks are bulk, partitioned writes;
at scale the same code writes a partitioned table instead of one directory.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir


def append_parquet(df: DataFrame, path: str) -> None:
    """Bulk append (vs consumer.py:78's insert_one-per-record). On a real
    deployment this is ``partitionBy(date)`` into a table location; the
    append mode + idempotent task commit is what replaces Mongo upserts.
    """
    df.write.mode("append").parquet(path)


def json_roundtrip(df: DataFrame, schema_ddl: str) -> DataFrame:
    """Serialize whole rows to JSON and parse them back (the Kafka value
    round-trip: producer.py:27-30 serializer + consumer.py:24 deserializer).

    ``to_json(struct(*))`` is exactly the producer's value_serializer;
    ``from_json`` with an explicit schema is the consumer's typed read.
    """
    encoded = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return encoded.select(F.from_json("value", schema_ddl).alias("row")).select("row.*")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-layout partitioned parquet write (``path/col=value/...``) — the
    100 TB table layout: a reader filtering on a partition column scans only
    matching directories (partition pruning happens at planning time, before
    any file I/O). Pair with date-derived columns for time-series data.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Bucketed + sorted table write: rows are hash-distributed into
    ``n_buckets`` files per partition by ``bucket_col`` and sorted within
    each. Two tables bucketed the same way equi-join WITHOUT a shuffle (and
    without a sort) — the co-located join that turns the biggest recurring
    fact⋈fact cost at 100 TB into a map-side merge. Bucketing requires the
    table catalog (``saveAsTable``); plain ``save(path)`` silently drops
    bucket metadata.
    """
    writer = df.write.format("parquet").mode("overwrite")
    if path is not None:
        writer = writer.option("path", path)
    writer.bucketBy(n_buckets, bucket_col).sortBy(bucket_col).saveAsTable(table)


class KeyedTableStore:
    """The minimal connector surface the keyed-MERGE algorithm needs.

    ``upsert_into`` is written against exactly these five methods, so a real
    external store (MongoDB — the reference's sink, consumer.py:12-13,78 —
    or JDBC, or a Delta/Iceberg table) slots in by implementing bucket-
    pruned read + bucket-scoped overwrite, WITHOUT touching the MERGE
    logic. The ``__bucket`` column (hash of the merge keys) is the unit of
    I/O locality: a connector maps it to a partition directory (parquet), a
    shard-key range query (Mongo), or a predicate-pushdown clause (JDBC).
    """

    def exists(self) -> bool:
        """Whether the target table already has any data."""
        raise NotImplementedError

    def initialize(self, bucketed: DataFrame) -> None:
        """First write: persist the bucketed frame (carries ``__bucket``)."""
        raise NotImplementedError

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        """Existing rows of ONLY the given buckets (pruned read —
        partition pruning on parquet, an indexed predicate on a connector).
        Returned frame carries ``__bucket``."""
        raise NotImplementedError

    def overwrite_buckets(self, merged: DataFrame) -> None:
        """Replace exactly the buckets present in ``merged`` (dynamic
        partition overwrite / transactional bulk replace); untouched
        buckets keep their data."""
        raise NotImplementedError

    def read_all(self) -> DataFrame:
        """Full scan of the table, without the ``__bucket`` column."""
        raise NotImplementedError


class ParquetBucketStore(KeyedTableStore):
    """Bucket-partitioned parquet implementation (the testable default).

    Empty-table robustness: a zero-row ``initialize``/``overwrite_buckets``
    writes a directory with no parquet files (just ``_SUCCESS``), and a
    schema-inferring read of that directory fails with
    ``UNABLE_TO_INFER_SCHEMA``. At 100 TB an empty-after-filter update
    stream is routine, so every write also records the schema in a tiny
    ``_schema.json`` sidecar — the table-format "log", reduced to the one
    field this store needs — and reads apply it explicitly: an empty table
    scans as an empty DataFrame instead of failing the pipeline, from ANY
    store object (not just the one that wrote it).
    """

    _SCHEMA_FILE = "_schema.json"

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        # In-object cache of the sidecar, keyed by its mtime: a SECOND store
        # object pointed at the same path may overwrite_buckets with an
        # evolved schema, and an mtime-less cache would keep serving the
        # stale one forever (ADVICE r9).
        self._schema = None
        self._schema_mtime = None

    def _fs(self):
        jvm = self.spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        return jvm, hpath, hpath.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self) -> bool:
        _, hpath, fs = self._fs()
        return bool(fs.exists(hpath))

    def _write_schema_sidecar(self, df: DataFrame) -> None:
        # Stage-and-rename: a reader must never observe a partial sidecar.
        # Rename is atomic on HDFS and on the local FS within a directory;
        # the delete-before-rename (local FS refuses rename-onto-existing)
        # leaves a window of MISSING sidecar that is microseconds, vs the
        # whole parquet job if the sidecar were simply written last
        # (ADVICE r9).
        jvm, _, fs = self._fs()
        spath = jvm.org.apache.hadoop.fs.Path(self.path, self._SCHEMA_FILE)
        tmp = jvm.org.apache.hadoop.fs.Path(self.path, self._SCHEMA_FILE + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(df.schema.json(), "utf-8"))
        finally:
            out.close()
        if fs.exists(spath):
            fs.delete(spath, False)
        # Hadoop's FileSystem.rename reports failure by RETURNING false, not
        # by raising; unchecked, a failed rename would leave no sidecar and
        # surface later as a raw FileNotFoundException far from the cause
        # (ADVICE r10).
        if not fs.rename(tmp, spath):
            raise IOError(
                f"failed to rename schema sidecar {tmp} -> {spath}; "
                "the table is left without a committed sidecar"
            )
        self._schema = df.schema
        self._schema_mtime = self._sidecar_stamp(fs, spath)

    @staticmethod
    def _sidecar_stamp(fs, spath):
        # (mtime, length): mtime alone has millisecond granularity — two
        # evolutions inside one tick would alias; the length breaks the tie
        # for any realistic schema change.
        st = fs.getFileStatus(spath)
        return (st.getModificationTime(), st.getLen())

    def _read_schema_sidecar(self):
        from pyspark.sql.types import StructType

        jvm, _, fs = self._fs()
        spath = jvm.org.apache.hadoop.fs.Path(self.path, self._SCHEMA_FILE)
        if not fs.exists(spath):
            return self._schema  # pre-sidecar table written by an old layout
        mtime = self._sidecar_stamp(fs, spath)
        if self._schema is not None and mtime == self._schema_mtime:
            return self._schema
        stream = fs.open(spath)
        try:
            reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
        finally:
            stream.close()
        import json as _json

        self._schema = StructType.fromJson(_json.loads("".join(lines)))
        self._schema_mtime = mtime
        return self._schema

    def initialize(self, bucketed: DataFrame) -> None:
        bucketed.write.partitionBy("__bucket").parquet(self.path)
        self._write_schema_sidecar(bucketed)

    def _scan(self) -> DataFrame:
        reader = self.spark.read
        schema = self._read_schema_sidecar()
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path)

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        # partition pruning: only the affected bucket directories are listed
        return self._scan().filter(F.col("__bucket").isin(bucket_ids))

    def overwrite_buckets(self, merged: DataFrame) -> None:
        # Stage the merged buckets in a SIBLING directory, then swap each
        # touched __bucket dir into place with filesystem renames (a
        # transactional table format stages via its log — this models
        # that). Because the stage target is a different directory, the
        # merged plan can read the live bucket dirs while writing — the
        # round-15 shape routed around Spark's in-place read+overwrite
        # refusal with an eager localCheckpoint instead, which materialized
        # every merged row TWICE (checkpoint blocks, then the write) and
        # was one whole extra pass per MERGE (round-16 measurement:
        # snk_upsert_write runs three upserts, each paying it).
        # Sidecar FIRST: the rename swap replaces only the touched __bucket
        # directories and never deletes root files, so writing the
        # (possibly evolved) schema before the data commit means there is
        # no window where the table is sidecar-less — a crash mid-swap
        # leaves the new schema over partially-old data, which still scans
        # (parquet fills absent columns with NULL). Writing it AFTER left a
        # data-committed/old-schema window as long as the parquet job
        # (ADVICE r9). The flip side (ADVICE r10): a CONCURRENT reader
        # during the swap applies the evolved schema to pre-overwrite data
        # — an added column reads all-NULL, a type change can fail its
        # scan. Like the non-transactional parquet layout generally, this
        # store assumes single-writer / no-concurrent-reader during
        # overwrite_buckets; both crash-consistency choices favor the
        # recovery path, not live concurrency.
        self._write_schema_sidecar(merged)
        staging = f"{self.path}__staging_{uuid.uuid4().hex[:8]}"
        merged.write.partitionBy("__bucket").parquet(staging)
        jvm, hroot, fs = self._fs()
        spath = jvm.org.apache.hadoop.fs.Path(staging)
        # Failure policy (ADVICE r16, medium): staging is deleted ONLY after
        # every touched bucket swapped cleanly. The previous finally-delete
        # destroyed the staged copy on a mid-loop rename failure — and the
        # live dir was already deleted, so the bucket's merged data had NO
        # surviving copy. Now a failed swap keeps staging and names it in
        # the error for manual recovery (rename the staged __bucket= dirs
        # into place). Crash window, stated precisely: between delete(dst)
        # and rename, that bucket directory is MISSING entirely — a reader
        # sees zero rows for it, not stale rows; the staged dir is the
        # recovery source either way.
        for st in fs.listStatus(spath):
            name = st.getPath().getName()
            if not name.startswith("__bucket="):
                continue  # _SUCCESS etc. stay in staging
            dst = jvm.org.apache.hadoop.fs.Path(hroot, name)
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(st.getPath(), dst):
                raise IOError(
                    f"failed to swap bucket dir {st.getPath()} -> {dst}; "
                    "the table may hold a partially-swapped MERGE (this "
                    f"bucket is currently missing); staged data kept at "
                    f"{staging} for manual recovery"
                )
        fs.delete(spath, True)

    def read_all(self) -> DataFrame:
        return self._scan().drop("__bucket")


class JdbcKeyedStore(KeyedTableStore):
    """JDBC implementation of the connector seam — the proof that a real
    external store slots under ``upsert_into`` without touching the MERGE
    logic (the reference's MongoDB ``insert_one``-by-``_id`` sink,
    consumer.py:12-13,78, maps the same way: ``__bucket`` becomes a
    shard-key predicate instead of a WHERE clause).

    Tested against Apache Derby embedded — a real SQL engine whose JDBC
    driver ships inside Spark's own jar directory, so the test talks to a
    genuine second storage backend with zero extra dependencies. A
    networked store (PostgreSQL, MySQL, …) is this same class with a
    different ``url``/``driver``.

    Scale shape per method:

    - ``read_buckets`` filters on ``__bucket`` and Spark's JDBC source
      pushes the predicate into the remote engine as
      ``WHERE "__bucket" IN (…)`` (plan shows ``PushedFilters: [*In(…)]``,
      pinned in tests) — the store scans an indexed slice, never the whole
      table: the JDBC analogue of parquet partition pruning.
    - ``overwrite_buckets`` materializes the merged rows (they were READ
      from the very buckets about to be replaced), issues one
      ``DELETE … WHERE "__bucket" IN (…)`` driver-side, then appends
      executor-parallel through the standard JDBC writer. Atomicity is
      per-statement here; a production deployment stages to a temp table
      and swaps, or uses the engine's native MERGE — the prune/delete/
      append shape is identical.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        driver: str | None = None,
    ) -> None:
        self.spark = spark
        self.url = url
        # unquoted identifier: Spark's JDBC writer emits it verbatim in DDL,
        # so the engine case-normalizes it and this class's direct SQL
        # (also unquoted) resolves the same table.
        self.table = table
        self.driver = driver

    def _options(self, reader_or_writer):
        o = reader_or_writer.format("jdbc").option("url", self.url).option(
            "dbtable", self.table
        )
        return o.option("driver", self.driver) if self.driver else o

    def _execute(self, sql: str) -> int:
        """Run one driver-side DML statement on the store (same JVM py4j
        bridge for embedded Derby; a network URL works identically)."""
        jvm = self.spark.sparkContext._jvm
        if self.driver:  # ensure the driver class is registered
            jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            try:
                return st.executeUpdate(sql)
            finally:
                st.close()
        finally:
            conn.close()

    def exists(self) -> bool:
        jvm = self.spark.sparkContext._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        try:
            conn = jvm.java.sql.DriverManager.getConnection(self.url)
        except Exception:
            return False  # database itself not created yet (embedded URLs)
        try:
            # JDBC metadata probe; table names are case-normalized by the
            # engine, so match case-insensitively.
            rs = conn.getMetaData().getTables(None, None, "%", None)
            try:
                while rs.next():
                    if rs.getString("TABLE_NAME").lower() == self.table.lower():
                        return True
                return False
            finally:
                rs.close()
        finally:
            conn.close()

    def initialize(self, bucketed: DataFrame) -> None:
        self._options(bucketed.write).mode("errorifexists").save()

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        # isin() reaches the remote engine as a pushed IN-list predicate —
        # pruned read, not a full scan + local filter.
        return (
            self._options(self.spark.read)
            .load()
            .filter(F.col("__bucket").isin(bucket_ids))
        )

    def overwrite_buckets(self, merged: DataFrame) -> None:
        # merged was read FROM the buckets we are about to delete; pin its
        # rows before mutating the table (the lazy JDBC scan would
        # otherwise re-read post-delete state during the append).
        merged = merged.localCheckpoint(eager=True)
        touched = [int(r[0]) for r in merged.select("__bucket").distinct().collect()]
        if touched:  # bounded by n_buckets, same as ParquetBucketStore
            ids = ", ".join(str(b) for b in sorted(touched))
            self._execute(f'DELETE FROM {self.table} WHERE "__bucket" IN ({ids})')
        self._options(merged.write).mode("append").save()

    def read_all(self) -> DataFrame:
        return self._options(self.spark.read).load().drop("__bucket")


def derby_embedded_url(db_dir: str) -> str:
    """URL for an embedded Derby database at ``db_dir`` (created on first
    connect). Derby's driver jars ship with Spark itself, making this the
    zero-dependency way to exercise :class:`JdbcKeyedStore` against a real
    SQL engine in tests."""
    return f"jdbc:derby:{db_dir};create=true"


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


class InMemoryDocumentCollection:
    """pymongo-shaped collection surface (`insert_many` / `find` /
    `delete_many` with ``{"$in": …}`` filters) backed by a driver-side list
    of dicts — the sandbox stand-in for a MongoDB collection (no Mongo
    server or driver exists in this container; a real deployment swaps this
    object for ``MongoClient(...)[db][coll]`` unchanged, since
    :class:`DocumentKeyedStore` calls only these three methods). Every
    operation is appended to ``ops`` so tests can assert the store issued
    bucket-PRUNED queries, not full-collection scans."""

    def __init__(self) -> None:
        self.docs: list[dict] = []
        self.ops: list[tuple] = []

    @staticmethod
    def _matches(doc: dict, query: dict) -> bool:
        for field, cond in query.items():
            if isinstance(cond, dict) and "$in" in cond:
                if doc.get(field) not in cond["$in"]:
                    return False
            elif doc.get(field) != cond:
                return False
        return True

    def insert_many(self, docs: list[dict]) -> None:
        self.ops.append(("insert_many", len(docs)))
        self.docs.extend(dict(d) for d in docs)

    def find(self, query: dict | None = None) -> list[dict]:
        query = query or {}
        self.ops.append(("find", query))
        return [dict(d) for d in self.docs if self._matches(d, query)]

    def delete_many(self, query: dict) -> int:
        self.ops.append(("delete_many", query))
        before = len(self.docs)
        self.docs = [d for d in self.docs if not self._matches(d, query)]
        return before - len(self.docs)

    def estimated_document_count(self) -> int:
        return len(self.docs)


class DocumentKeyedStore(KeyedTableStore):
    """Document-store (MongoDB-shaped) implementation of the connector
    seam — the reference's ACTUAL sink (``MongoClient`` + per-record
    ``insert_one``, consumer.py:12-13,78) re-expressed as the bulk,
    bucket-pruned protocol ``upsert_into`` merges through:

    - ``__bucket`` (hash of the merge keys) plays the shard key: reads are
      ``find({"__bucket": {"$in": […]}})`` — an indexed shard-key query,
      the document-store analogue of parquet partition pruning — and
      replacement is ``delete_many`` + ``insert_many`` scoped to exactly
      the touched buckets, so a MERGE never rewrites the collection.
    - rows cross the boundary as plain field dicts (one document per row),
      the same document shape consumer.py:78 inserts.

    The client object is injected (pymongo's real collection or the
    :class:`InMemoryDocumentCollection` stand-in — same three methods), so
    the MERGE-side plumbing is identical either way. Writes stream through
    ``toLocalIterator()`` partition-at-a-time; with a real networked store
    the same per-partition ``insert_many`` body moves into
    ``foreachPartition`` (executor-parallel, one client per partition) —
    the stand-in must write driver-side because executor processes cannot
    mutate driver-held Python lists."""

    def __init__(self, spark: SparkSession, collection, schema=None) -> None:
        self.spark = spark
        self.collection = collection
        self._schema = schema

    def _ensure_schema(self) -> None:
        # Constructed over an already-populated collection (the live-Mongo
        # path — ``MongoClient(...)[db][coll]`` handed in, ``exists()``
        # True, ``initialize`` never runs): recover the schema from storage
        # the way the parquet/JDBC backends do, by inferring over a bounded
        # sample of documents (ADVICE r7). Callers with a known contract
        # pass ``schema`` to the constructor instead.
        if self._schema is not None:
            return
        from itertools import islice

        from pyspark.sql import Row
        from pyspark.sql import types as T

        # Live-Mongo documents carry '_id' (an ObjectId insert_many added —
        # not a row field and not Spark-mappable): project it out server-side
        # where the client supports projections, strip client-side where the
        # stand-in's query-only find() does not (ADVICE r8).
        try:
            cursor = self.collection.find({}, {"_id": 0})
        except TypeError:  # InMemoryDocumentCollection: find(query) only
            cursor = self.collection.find({})
        sample = [
            {k: v for k, v in d.items() if k != "_id"}
            for d in islice(iter(cursor), 100)
        ]
        if not sample:
            raise ValueError(
                "DocumentKeyedStore has no schema: collection is empty and "
                "no schema was passed to the constructor"
            )
        # Document stores don't enforce homogeneous key sets; normalize every
        # sampled doc to the union of keys (first-seen order) so Row-based
        # inference sees one consistent shape, absent keys as NULL.
        keys: list[str] = []
        for d in sample:
            for k in d:
                if k not in keys:
                    keys.append(k)
        if not keys:
            raise ValueError(
                "DocumentKeyedStore has no schema: sampled documents have no "
                "fields; pass schema= to the constructor"
            )
        # A field NULL across the whole sample has no inferable type; widen
        # it to string (the JSON-superset default) instead of failing —
        # callers with a known contract pass schema= explicitly.
        all_none = {k for k in keys if all(d.get(k) is None for d in sample)}
        if all_none:
            # Name the widened fields NOW: if later documents carry
            # non-string values for one of these, the scan fails far from
            # this inference — the warning is the breadcrumb back to the
            # cause, and schema= is the fix (ADVICE r9).
            import warnings

            warnings.warn(
                "DocumentKeyedStore schema inference: field(s) "
                f"{sorted(all_none)} were NULL across the whole "
                f"{len(sample)}-document sample and were widened to string; "
                "if the collection holds non-string values for them, reads "
                "will fail at scan time — pass schema= to the constructor "
                "for collections with sparse fields",
                stacklevel=2,
            )
        typed = [k for k in keys if k not in all_none]
        typemap: dict[str, T.DataType] = {}
        if typed:
            rows = [Row(**{k: d.get(k) for k in typed}) for d in sample]
            inferred = self.spark.createDataFrame(rows).schema
            typemap = {f.name: f.dataType for f in inferred.fields}
        self._schema = T.StructType(
            [
                T.StructField(k, typemap.get(k, T.StringType()), True)
                for k in keys
            ]
        )

    def _insert_frame(self, df: DataFrame) -> None:
        batch: list[dict] = []
        for row in df.toLocalIterator():
            batch.append(row.asDict())
            if len(batch) >= 1000:
                self.collection.insert_many(batch)
                batch = []
        if batch:
            self.collection.insert_many(batch)

    def exists(self) -> bool:
        return self.collection.estimated_document_count() > 0

    def initialize(self, bucketed: DataFrame) -> None:
        self._schema = bucketed.schema
        self._insert_frame(bucketed)

    def _frame(self, docs: list[dict]) -> DataFrame:
        self._ensure_schema()
        cols = [f.name for f in self._schema.fields]
        rows = [tuple(d.get(c) for c in cols) for d in docs]
        return self.spark.createDataFrame(rows, self._schema)

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        # shard-key-pruned read: only the touched buckets' documents leave
        # the store (an indexed $in query on a real deployment)
        return self._frame(
            self.collection.find({"__bucket": {"$in": sorted(bucket_ids)}})
        )

    def overwrite_buckets(self, merged: DataFrame) -> None:
        # merged's lineage includes read_buckets of the very buckets being
        # replaced; pin it before mutating (with the in-memory client the
        # createDataFrame rows are already copies, but a lazy connector
        # read would re-execute post-delete — same discipline as the
        # parquet/JDBC stores)
        merged = merged.localCheckpoint(eager=True)
        touched = [
            int(r[0]) for r in merged.select("__bucket").distinct().collect()
        ]
        if touched:  # bounded by n_buckets
            self.collection.delete_many({"__bucket": {"$in": sorted(touched)}})
        self._insert_frame(merged)

    def read_all(self) -> DataFrame:
        return self._frame(self.collection.find({})).drop("__bucket")


def upsert_into(
    store: KeyedTableStore,
    updates: DataFrame,
    keys: list[str],
    n_buckets: int = 32,
) -> DataFrame:
    """Keyed MERGE/upsert through a :class:`KeyedTableStore` (the reference's
    MongoDB ``insert_one``-by-``_id`` semantics, consumer.py:78, as a bulk
    operator): incoming rows REPLACE existing rows with matching keys,
    others append. Re-delivering the same batch is a no-op — the sink is
    idempotent under key collision, i.e. effectively-exactly-once for
    at-least-once inputs.

    Scale shape: the table is laid out by a hash bucket of the key, so a
    MERGE touches only the buckets its update keys land in — never a
    full-table rewrite:

    1. updates get ``__bucket = pmod(xxhash64(keys), n_buckets)`` (row-local);
    2. existing rows are read pruned to the affected buckets only
       (``store.read_buckets`` — at most ``n_buckets`` driver-side ints);
    3. survivors = affected existing rows anti-joined against update keys —
       a shuffle of the affected buckets only;
    4. survivors ∪ updates replace ONLY those buckets
       (``store.overwrite_buckets``; untouched buckets keep their data).

    A table format with a transaction log (Delta/Iceberg MERGE) adds ACID
    on top; the physical plan — prune, anti-join, bucket-scoped rewrite —
    is exactly this one.

    Contract: ``updates`` must be key-unique (one row per key tuple), the
    same precondition Delta's MERGE enforces with its "multiple source rows
    matched" error — duplicate keys in one batch would all land (the
    anti-join removes only *existing* rows). Dedupe upstream
    (``dropDuplicates(keys)``) when the source can replay within a batch.
    """
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    bucketed = updates.withColumn("__bucket", bucket)
    if not store.exists():
        store.initialize(bucketed)
        return store.read_all()

    affected = [r[0] for r in bucketed.select("__bucket").distinct().collect()]
    existing = store.read_buckets(affected)
    survivors = existing.join(
        updates.select(*keys).distinct(), on=keys, how="left_anti"
    )
    merged = survivors.select(*updates.columns, "__bucket").unionByName(bucketed)
    store.overwrite_buckets(merged)
    return store.read_all()


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    n_buckets: int = 32,
) -> DataFrame:
    """``upsert_into`` against the bucket-partitioned parquet store — the
    default sink; see :func:`upsert_into` for the MERGE semantics and the
    100 TB layout rationale."""
    return upsert_into(ParquetBucketStore(spark, path), updates, keys, n_buckets)


def compact_files(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_bytes`` each and return the compacted scan.

    The operational fix for the #1 lakehouse decay mode — streaming /
    per-batch appends accumulate thousands of KB-sized files, and at 100 TB
    the NameNode/listing + per-file open cost dominates scans. Sizing comes
    from the *actual* on-disk bytes (no guessing): n_files =
    ceil(total_bytes / target). The rewrite is one coalesce() — a NARROW
    dependency, no shuffle: each output task concatenates whole input
    files. Atomicity on a real deployment comes from writing to a fresh
    directory + metastore location swap, which is what the temp-dir +
    return-scan here models.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    hpath = jvm.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / target_bytes))
    compacted = scratch_dir("compact")
    spark.read.parquet(path).coalesce(n_files).write.parquet(compacted)
    return spark.read.parquet(compacted)


# ---------------------------------------------------------------------------
# Snapshot-versioned table (time travel)
# ---------------------------------------------------------------------------


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Append a new immutable snapshot version of ``df`` to ``table_dir``
    and return its version number.

    The layout is the Delta/Iceberg shape reduced to its essentials: data
    files live under ``v{N}/`` (never rewritten), and a JSON manifest —
    written LAST, atomically via rename — names the data directory of each
    committed version. Readers resolve versions only through the manifest,
    so a crashed half-written snapshot (data files but no manifest entry)
    is invisible: the commit point IS the manifest swap. At 100 TB a real
    manifest lists files + column stats for pruning; the read path
    (manifest → file list → scan) is the same.
    """
    import json

    os.makedirs(table_dir, exist_ok=True)
    manifest_path = os.path.join(table_dir, "manifest.json")
    manifest = {"versions": {}}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    version = max((int(v) for v in manifest["versions"]), default=-1) + 1
    # Crash recovery: a half-written commit leaves an orphan v{N} data dir
    # with no manifest entry. Version numbers come from the manifest, so
    # naively reusing N would collide with the orphan and errorifexists
    # would wedge the table forever. Skip past any existing dir — orphans
    # stay invisible (readers resolve only through the manifest) and the
    # new commit lands in a fresh immutable dir.
    while os.path.exists(os.path.join(table_dir, f"v{version}")):
        version += 1
    data_dir = os.path.join(table_dir, f"v{version}")
    df.write.mode("errorifexists").parquet(data_dir)
    manifest["versions"][str(version)] = f"v{version}"
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)  # atomic commit point
    return version


def read_snapshot(spark: SparkSession, table_dir: str, version: int) -> DataFrame:
    """Time-travel read: resolve ``version`` through the manifest (never by
    listing directories — uncommitted data must stay invisible) and scan
    its immutable data files."""
    import json

    with open(os.path.join(table_dir, "manifest.json")) as f:
        manifest = json.load(f)
    rel = manifest["versions"][str(version)]
    return spark.read.parquet(os.path.join(table_dir, rel))


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[int]:
    """Snapshot lifecycle GC (the Iceberg expire_snapshots / Delta VACUUM
    step): drop all but the newest ``keep_last`` versions and return the
    expired version numbers.

    Ordering is the crash-safe mirror of write_snapshot's commit protocol,
    reversed: the manifest entry is removed FIRST (atomic rename swap — the
    uncommit point), THEN the data directory is deleted. A crash between
    the two leaves an orphan data dir that readers can never resolve
    (they only look through the manifest) and that write_snapshot's
    version allocator already skips — so every interleaving is safe and
    re-running expire is a no-op for already-expired versions. Refuses to
    expire everything: a table always keeps ≥1 readable snapshot."""
    import json
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1: a table keeps >=1 snapshot")
    manifest_path = os.path.join(table_dir, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    versions = sorted(int(v) for v in manifest["versions"])
    expired = versions[:-keep_last]
    if not expired:
        return []
    doomed_dirs = [manifest["versions"][str(v)] for v in expired]
    for v in expired:
        del manifest["versions"][str(v)]
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)  # uncommit point: versions now invisible
    for rel in doomed_dirs:
        shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)
    return expired
