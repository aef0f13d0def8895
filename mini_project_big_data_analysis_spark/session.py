"""SparkSession construction.

Pinned semantics (SURVEY.md §7 step 0):

- ``spark.sql.session.timeZone=UTC`` — the reference handles local time by
  adding an explicit per-row offset to a UTC base (consumer.py:59-61); the
  engine therefore treats every timestamp as UTC and models offsets as
  intervals. This also keeps the DuckDB oracle (UTC by default) comparable.
- AQE on — runtime partition coalescing, skew-join splitting and join
  strategy switching are the 100 TB posture (SURVEY.md §4.4).
- Arrow on — all pandas_udf / applyInPandas paths batch via Arrow.
- ``spark.sql.codegen.cache.maxEntries=4096`` (``CODEGEN_CACHE_ENTRIES``) —
  Spark's JVM-wide cache of Janino-compiled classes keeps 100 by default, and
  the 12 ``dashboard`` ids alone compile over 200, so every refresh evicted
  what the next one needed and recompiled 36-92 classes (23% of warm
  driver-JVM samples were Janino). One pass over the whole catalog at sf0.01
  compiles about 2 080 distinct classes; 4096 is the next power of two, with room for
  the ids that still build new classes per call. The cache holds only what was
  compiled, so memory follows a workload's working set, not the cap: about
  30-42 KB per class (after one catalog pass, JVM live memory rose 143 ->
  202 MB from 100 to 4096 entries, and 532 -> 615 MB unbounded on a larger
  heap). The second catalog pass then compiles 72 classes instead of 2 703.
- Provisioning — ``provision(spark)`` is the one function that readies a
  session, whether ``get_spark`` built it or a driver handed it in. It sets
  ``RUNTIME_CONF`` (the builder applies the same dict, so ``newSession()``
  children inherit it) and puts the package root, plus the vendored protobuf
  when the driver resolved that shim, on ``sc.environment["PYTHONPATH"]``.
  Spark merges that entry into the ``PYTHONPATH`` of every Python worker
  whose UDF is created afterwards, so workers import the package however the
  driver process was started. Static keys (the codegen cache, memory,
  master) cannot change on a live session: a session built elsewhere keeps
  its own, and ``describe(spark)`` says which it has.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Entries of Spark's compiled-class cache (module docstring).
CODEGEN_CACHE_ENTRIES = 4096

#: The engine's session semantics that a live session can still change.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: The directory that holds the package: what a Python worker needs on its
#: path to import it.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mini-project-big-data-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession, provisioned.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry point serves tests (local[2]) and bench (local[32]).
    On a real cluster the caller passes no master and spark-submit decides.

    Concurrency contract (tests/test_concurrency.py): one session may run
    any number of catalog queries concurrently against the SAME dataset;
    concurrent callers over DIFFERENT datasets must each take
    ``spark.newSession()`` — the SQL ids register unqualified temp views
    (``lineitem`` etc.) whose namespace is the session, so a shared session
    is last-writer-wins across datasets. Engine conf is set at BUILDER
    level below precisely so child sessions inherit the 100 TB posture.
    ``extra_conf`` adds builder keys; ``provision`` sets ``RUNTIME_CONF``
    over them.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Partitions sized for executor memory at scale (SURVEY.md §4.4);
        # 128 MiB is the parquet-friendly default and what we'd ship at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local[32] runs 32 concurrent tasks inside the driver JVM: an 8g
        # heap GC-thrashes once the pandas-UDF-heavy queries have churned the
        # old gen (measured: later queries inflate 10-40×). 48g on the
        # 128 GiB build box keeps headroom for 32 Python workers. On a real
        # cluster executor memory comes from spark-submit, not this default.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # ContextCleaner only reclaims dropped shuffle files / checkpoint
        # blocks when a JVM GC runs; the 30-MINUTE default periodicGC means
        # a query-per-second workload accumulates dead blocks for the whole
        # session (observed: localCheckpoint blocks from dedup queries
        # degrading successors). 60s is the standard long-running-driver
        # setting and what we'd ship.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return provision(builder.getOrCreate())


def provision(spark: SparkSession) -> SparkSession:
    """Ready ``spark`` for the engine (module docstring, "Provisioning");
    idempotent. A ``RUNTIME_CONF`` key the hosting harness has fixed keeps
    the harness's value."""
    from .vendor import worker_paths

    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException:
            pass
    env = spark.sparkContext.environment
    have = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    missing = [p for p in (PACKAGE_ROOT, *worker_paths()) if p not in have]
    if missing:
        env["PYTHONPATH"] = os.pathsep.join(missing + have)
    return spark


def describe(spark: SparkSession) -> dict:
    """What a run's session is: its master, the cores its tasks run on and
    the entries of its compiled-class cache (``CODEGEN_CACHE_ENTRIES`` under
    ``get_spark``; a session built elsewhere keeps its own, Spark's default
    being 100)."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "codegen_cache_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }


def compiled_classes(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: every miss of the
    compiled-class cache (``CODEGEN_CACHE_ENTRIES``) adds one."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
