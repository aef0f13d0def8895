"""Closed-loop benchmark of the analytics engine, one workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Run from the repository root. One client thread sends requests back to back
(a closed loop) to one ``local[<nproc>]`` session. A request is one catalog
id called as ``all_queries()[qid].fn(spark, data_dir)`` and materialised by
an action that returns its row count and an order-insensitive hash.

Each run:

1. contains its scratch: Spark's local dirs, the JVM's and the package's
   ``TMPDIR`` and the warehouse point into ``perfbench/.run/<run>/``, which
   is deleted at exit;
2. sets up cold: imports the package and starts the JVM with
   ``session.get_spark``;
3. verifies: runs every id of the workload once on its input tables (the
   fixtures in ``perfbench/fixtures/``), compares its rows with the DuckDB
   oracle (``tests/oracle.py``) and fixes its expected count and hash. Then
   sets up ``RESTARTS`` times warm, each stopping the session, importing the
   package afresh, building a new session with ``get_spark`` in the same
   JVM and running the warm-up request again. ``setup_s`` is the median of
   the CPU seconds the warm set-ups took (``CpuClock``); their wall times
   and the cold set-up go to the detail line. The timed passes run on the
   last session;
4. measures: issues whole passes over the workload's ids, in an order the
   seed shuffles anew for every pass; the seed changes nothing else. The
   number of passes follows from ``--seconds`` (``n_passes``), so every run
   of a workload has the same sample count. A request that raises, or whose
   count or hash differs from the expected one, counts as failed. After
   every pass, outside the clock, a full GC is forced and the JVM's live
   memory read (``Memory``).

The request timing metrics count CPU seconds of the driver JVM, its Python
workers and this process, read from ``/proc``. The vCPUs of a shared host
lose time to other tenants (steal), which moved wall-clock latency by up to
3x between runs while CPU time moved by about a tenth. Wall-clock figures
and the loop's parallelism (CPU seconds per wall second) go to the detail
line.

``--trace 1`` alternates untraced passes with passes that have per-layer
tracing on (``spans.py``), and reports the per-layer metrics, the
traced phase sums against the untraced request times, and the tracing
overhead. Spans are written to ``perfbench/out/`` at exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the run's details (environment, per-id medians, sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Input tables per workload: copies of the repository's test fixtures
#: (seed 42) at scale factor 0.01 (60 000 lineitem rows, 10 000 events) and
#: 0.001 (a tenth of that). Small enough that a run, with its fresh JVM and
#: its verification pass, stays within a minute on a busy host. A streaming
#: request costs about three times a dashboard one at the same scale, so
#: ingest runs on the smaller tables.
FIXTURES = os.path.join(HERE, "fixtures")
DATA = {"dashboard": "sf0.01", "ingest": "sf0.001"}

#: Warm set-ups per run; ``setup_s`` is their median (module docstring,
#: step 3).
RESTARTS = 3

PKG = "mini_project_big_data_analysis_spark"

#: Ids verified at once (``verify``).
VERIFY_THREADS = 4

#: Nominal seconds per measured pass (either workload, on a busy host). A
#: run makes ``--seconds`` over this many passes (at least one), so every
#: run of a workload has the same sample count.
PASS_SECONDS = 8.0

#: Largest accepted gap between an id's traced phase sum and its untraced
#: request time, as a share of the latter (medians per id). The two come
#: from different passes, and on a busy host the wall time of one id moved
#: by a sixth between neighbouring passes (a traced ``ingest`` smoke run
#: read 1.155).
PHASE_TOLERANCE = 0.25

#: The ids of one pass, per workload (why each was chosen: README.md). The
#: first, the workload's cheapest, is the warm set-ups' warm-up request.
WORKLOADS = {
    "dashboard": [
        "agg_global_stats", "flagship_region_hourly_stats", "agg_cached_dashboard",
        "agg_pivot", "agg_describe", "agg_time_window", "agg_value_counts",
        "filt_ts_range", "filt_isin", "window_latest_per_key", "join_inner_equi",
        "sort_order_by",
    ],
    "ingest": ["stream_clean_sink", "stream_tumbling_agg", "stream_foreachbatch_upsert"],
}

E2E_UNITS = {"setup_s": "s", "cpu_s_per_req": "s", "pass_cpu_s": "s", "mem_mb": "MB"}


def passes(workload: str, seed: int):
    """Endless request passes: each holds every id of the workload once, in
    an order drawn from ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(WORKLOADS[workload])
        rng.shuffle(order)
        yield order


def n_passes(seconds: float) -> int:
    return max(1, round(seconds / PASS_SECONDS))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- environment --------------------------------------------------------------


def contain(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM, the Python workers and
    the package into ``run_dir``; returns the session conf that does so."""
    import tempfile

    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "jvm-tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = f"{min(2048, phys_mb // 4)}m"
    os.environ.update(
        {
            # Python workers import the package from the checkout.
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # The package default (48g) is sized for a build box.
            "SPARK_GRAFT_DRIVER_MEM": heap,
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["tmp"],
        }
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def git_commit() -> str:
    """HEAD of the checkout, read from ``.git`` ("unknown" outside git)."""
    git = os.path.join(ROOT, ".git")

    def read(name: str) -> str:
        with open(os.path.join(git, name)) as f:
            return f.read()

    try:
        head = read("HEAD").strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            return read(ref).strip()
        for line in read("packed-refs").splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class Memory:
    """Memory the engine holds: the driver JVM's live memory plus the peak of
    its Python workers.

    ``snapshot`` forces a full GC and reads, through the JVM's management
    beans, the heap still in use, the non-heap memory (metaspace, code
    cache) and the direct buffers; ``live`` keeps the largest of these
    snapshots. Cached tables, broadcasts, streaming state and leaked
    DataFrames stay live through a GC and so show here, while the garbage
    between collections does not. The workers' proportional set size (PSS)
    is sampled from ``/proc`` every 0.5 s; PSS counts the pages forked
    workers share with their daemon once, so the sum does not swing with
    the worker count."""

    def __init__(self, spark, jvm_pid: int) -> None:
        jvm = spark.sparkContext._jvm
        factory = jvm.java.lang.management.ManagementFactory
        self._bean = factory.getMemoryMXBean()
        self._buffers = factory.getPlatformMXBeans(
            jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
        self.live = 0
        self.workers = 0
        self._jvm = jvm_pid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def snapshot(self) -> None:
        self._bean.gc()
        used = self._bean.getHeapMemoryUsage().getUsed() + self._bean.getNonHeapMemoryUsage().getUsed()
        used += sum(b.getMemoryUsed() for b in self._buffers)
        self.live = max(self.live, used)

    @property
    def total(self) -> int:
        return self.live + self.workers

    def _sample(self) -> int:
        total = 0
        for p in descendants(self._jvm):
            try:
                with open(f"/proc/{p}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) << 10
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.workers = max(self.workers, self._sample())
            self._stop.wait(0.5)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _stat_fields(path: str) -> list[bytes]:
    """Fields of a ``/proc`` stat file after the command name (so index 11
    is ``utime``); empty when the process or thread is gone."""
    try:
        with open(path, "rb") as f:
            stat = f.read()
    except OSError:
        return []
    return stat[stat.rfind(b")") + 2 :].split()


class CpuClock:
    """CPU seconds of this process, the driver JVM and its Python workers,
    less the JVM's JIT compiler threads, read from ``/proc``.

    The JIT compiles the engine's hot code in bursts whose timing follows
    the request order. In a fresh JVM it burned more CPU than the requests
    did (measured: 7.4 s of compiler threads against 4.3 s of all other
    threads over the first dashboard pass after verification, 1-3 s over
    later passes). The JVM keeps its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so their time can be read
    per thread and taken off."""

    def __init__(self, jvm_pid: int) -> None:
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jit = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        self._jit.append(f"/proc/{jvm_pid}/task/{tid}/stat")
            except OSError:
                pass

    def read(self) -> tuple[float, int, int]:
        """(CPU seconds, system steal jiffies, system total jiffies)."""
        cpu = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            cpu += sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])
        for path in self._jit:
            cpu -= sum(int(x) for x in _stat_fields(path)[11:13])
        with open("/proc/stat") as f:
            sys_fields = [int(x) for x in f.readline().split()[1:]]
        return cpu / self._tick, sys_fields[7], sum(sys_fields)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def scratch_left(tmp: str) -> tuple[int, int]:
    """(bytes, directories) left under ``tmp``."""
    size = dirs = 0
    for root, ds, fs in os.walk(tmp):
        dirs += len(ds)
        size += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
    return size, dirs


# -- requests -----------------------------------------------------------------


class Runner:
    """Issues requests against one session. With a tracer and a job counter
    set, each phase is recorded as a span and the job id is read at every
    phase change."""

    def __init__(self, spark, data_dir: str) -> None:
        from mini_project_big_data_analysis_spark.queries import all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.registry = all_queries()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.clock = CpuClock(self.jvm_pid)
        self.tracer = None
        self.jobs = None

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def _job(self):
        return self.jobs.next_job() if self.jobs else None

    @staticmethod
    def checked(df):
        """The request's action: row count and the sum of per-row xxhash64
        (order-insensitive); map columns hash through their JSON form."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cols = [
            F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, T.MapType) else F.col(f"`{f.name}`")
            for f in df.schema.fields
        ]
        return df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
        )

    def request(self, qid: str):
        """One request; returns ((count, hash), phase times, job ids)."""
        with self._span("request", qid):
            t0, j0 = time.perf_counter(), self._job()
            with self._span("queries", qid):
                df = self.registry[qid].fn(self.spark, self.data_dir)
            t1, j1 = time.perf_counter(), self._job()
            with self._span("plan", qid):
                action = self.checked(df)
                action._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self._span("exec", qid):
                row = action.collect()[0]
            t3, j3 = time.perf_counter(), self._job()
        return (int(row["n"]), str(row["s"])), (t0, t1, t2, t3), (j0, j1, j3)


def verify(runner: Runner, workload: str, data_dir: str) -> tuple[dict, dict]:
    """Run every id once and compare it with its DuckDB oracle; returns the
    expected (count, hash) per id (None when it failed) and the verdicts.
    The result is cached for the compare, so the hash is taken from the
    rows compared and the query runs once. The ids run on ``VERIFY_THREADS``
    threads at once: this is a fresh JVM's first run of each id, mostly
    single-threaded class loading, code generation and planning, and
    nothing here is timed."""
    from tests.oracle import compare, duck_connection

    con = duck_connection(data_dir)

    def one(qid: str):
        q = runner.registry[qid]
        try:
            df = q.fn(runner.spark, data_dir).persist()
            with con.cursor() as cur:
                ok, msg = compare(df, cur, q.oracle) if q.oracle else (True, "no oracle")
            n, s = runner.checked(df).collect()[0] if ok else (None, None)
            df.unpersist()
            return (int(n), str(s)) if ok else None, msg
        except Exception as exc:  # reported as a wrong id, not fatal
            return None, f"{type(exc).__name__}: {exc}"[:300]

    try:
        with ThreadPoolExecutor(VERIFY_THREADS) as pool:
            results = dict(zip(WORKLOADS[workload], pool.map(one, WORKLOADS[workload])))
    finally:
        con.close()
    return {q: r[0] for q, r in results.items()}, {q: r[1] for q, r in results.items()}


def measure(runner: Runner, order, n: int, expected: dict, mem: Memory, probe=None) -> dict:
    """Closed loop of ``n`` whole passes (module docstring, step 4). The
    memory snapshot after each pass is taken off the clock and its CPU
    seconds off the count."""
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    phases = []
    failed = attempted = 0
    off_s = off_cpu = 0.0
    clock = runner.clock
    start = time.perf_counter()
    c_start = clock.read()
    for _ in range(n):
        for qid in next(order):
            if runner.tracer:
                runner.tracer.request += 1
            attempted += 1
            c0 = clock.read()
            try:
                got, ts, jobs = runner.request(qid)
            except Exception as exc:  # counted as a failed request
                print(f"request {qid} failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
                failed += 1
                continue
            c1 = clock.read()
            if got != expected.get(qid):
                failed += 1
                continue
            cpu.setdefault(qid, []).append(c1[0] - c0[0])
            lat.setdefault(qid, []).append(ts[3] - ts[0])
            phases.append((qid, ts[1] - ts[0], ts[2] - ts[1], ts[3] - ts[2]))
            if probe:
                probe.record(ts, jobs)
        t0, c0 = time.perf_counter(), clock.read()
        mem.snapshot()
        off_s += time.perf_counter() - t0
        off_cpu += clock.read()[0] - c0[0]
    c_end = clock.read()
    return {"lat": lat, "cpu": cpu, "phases": phases, "attempted": attempted, "failed": failed,
            "elapsed": time.perf_counter() - start - off_s, "cpu_s": c_end[0] - c_start[0] - off_cpu,
            "steal_share": (c_end[1] - c_start[1]) / max(1, c_end[2] - c_start[2])}


def merge(parts: list[dict]) -> dict:
    """One ``measure`` result from several."""
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for m in parts:
        for qid, xs in m["lat"].items():
            lat.setdefault(qid, []).extend(xs)
        for qid, xs in m["cpu"].items():
            cpu.setdefault(qid, []).extend(xs)
    total = {k: sum(m[k] for m in parts) for k in ("attempted", "failed", "elapsed", "cpu_s")}
    return {"lat": lat, "cpu": cpu, "phases": [x for m in parts for x in m["phases"]], **total,
            "steal_share": sum(m["steal_share"] * m["elapsed"] for m in parts) / total["elapsed"]}


def per_pass(samples: dict[str, list[float]]) -> float:
    """One pass's worth of ``samples``: the sum over ids of each id's median."""
    return sum(median(xs) for xs in samples.values())


def end_to_end(m: dict, setup_s: float, mem: Memory) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "cpu_s_per_req": m["cpu_s"] / m["attempted"],
        "pass_cpu_s": per_pass(m["cpu"]),
        "mem_mb": mem.total / 2**20,
    }


def wall_clock(m: dict) -> dict[str, float]:
    """Wall-clock figures for the detail line (not gated: see README)."""
    every = [x for xs in m["lat"].values() for x in xs]
    return {
        "pass_s": per_pass(m["lat"]),
        "req_per_s": m["attempted"] / m["elapsed"],
        "latency_p50_s": median(every),
        "cpu_per_wall": m["cpu_s"] / m["elapsed"],
        "steal_share": m["steal_share"],
    }


class LayerProbe:
    """Per-request Spark job/stage and streaming counters for the traced
    loop. Jobs started while building (eager checkpoints, streaming
    micro-batches) are told apart from the action's by the job id read at
    the phase change."""

    def __init__(self, spark) -> None:
        from mini_project_big_data_analysis_spark.streaming import pipeline

        from spans import JobCounter

        self.pipeline = pipeline
        self.jobs = JobCounter(spark)
        self.cores = spark.sparkContext.defaultParallelism
        self.rows: list[dict] = []

    def record(self, ts, jobs) -> None:
        from spans import drain_progress

        j0, j1, j3 = jobs
        row = self.jobs.totals(j0, j3)
        row.update(build_jobs=j1 - j0, exec_jobs=j3 - j1, wall=ts[3] - ts[0])
        row["stream"] = drain_progress(self.pipeline)
        self.rows.append(row)


LAYER_UNITS = {
    "session.import_s": "s", "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.calls": "count", "sources.build_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.input_rows": "count", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.executor_cpu_s": "s", "exec.core_busy_ratio": "ratio",
    "streaming.run_s": "s", "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes",
    "scratch.bytes_left": "bytes", "scratch.dirs_left": "count",
}


def per_layer(tracer, probe: LayerProbe, session: dict, tmp: str) -> dict:
    """Per-layer metrics, each a mean per traced request unless named
    otherwise."""
    n = max(1, len(probe.rows))
    layers = tracer.layer_totals()

    def tot(key):
        return sum(r[key] for r in probe.rows) / n

    def stream(key):
        return sum(r["stream"][key] for r in probe.rows) / n

    def self_s(layer):
        return layers.get(layer, {}).get("self_s", 0.0) / n

    wall = sum(r["wall"] for r in probe.rows)
    size, dirs = scratch_left(tmp)
    return {
        "session.import_s": session["import_s"],
        "session.get_spark_s": session["get_spark_s"],
        "session.warmup_s": session["warmup_s"],
        "sources.calls": layers.get("sources", {}).get("calls", 0) / n,
        "sources.build_s": self_s("sources"),
        "queries.build_s": self_s("queries"),
        "queries.build_jobs": tot("build_jobs"),
        "plan.s": self_s("plan"),
        "exec.s": self_s("exec"),
        "exec.jobs": tot("exec_jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.failed_tasks": tot("failed_tasks"),
        "exec.input_rows": tot("input_rows"),
        "exec.input_bytes": tot("input_bytes"),
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "exec.spill_bytes": tot("spill_bytes"),
        "exec.executor_cpu_s": tot("cpu_ns") / 1e9,
        "exec.core_busy_ratio": tot("run_ms") * n / 1000.0 / (wall * probe.cores) if wall else 0.0,
        "streaming.run_s": self_s("streaming"),
        "streaming.batches": stream("batches"),
        "streaming.input_rows": stream("input_rows"),
        "streaming.add_batch_ms": stream("add_batch_ms"),
        "streaming.query_planning_ms": stream("query_planning_ms"),
        "streaming.state_commit_ms": stream("state_commit_ms"),
        "streaming.state_rows": stream("state_rows"),
        "sinks.write_s": self_s("sinks"),
        "sinks.bytes_written": tot("output_bytes"),
        # totals for the run, not per request
        "scratch.bytes_left": size,
        "scratch.dirs_left": dirs,
    }


def trace_check(traced: dict, plain: dict) -> dict:
    """Traced phase sums against the untraced request times (median ratio
    over ids), and the tracing overhead on the median request."""
    ratios = []
    for qid, walls in plain["lat"].items():
        sums = [b + p + e for q, b, p, e in traced["phases"] if q == qid]
        if sums:
            ratios.append(median(sums) / median(walls))
    every = [x for xs in plain["lat"].values() for x in xs]
    every_traced = [x for xs in traced["lat"].values() for x in xs]
    return {
        "phase_sum_ratio": median(ratios),
        "phase_sum_tolerance": PHASE_TOLERANCE,
        "overhead_s": median(every_traced) - median(every),
        "samples": len(every_traced),
    }


# -- main ---------------------------------------------------------------------


def import_package():
    """Import the package afresh (dropping any loaded copy) and return its
    ``get_spark``."""
    for name in [n for n in sys.modules if n == PKG or n.startswith(PKG + ".")]:
        del sys.modules[name]
    from mini_project_big_data_analysis_spark.session import get_spark

    return get_spark


def cold_setup(conf: dict, data_dir: str):
    """Import the package and start the JVM; returns the runner and the
    times of the two steps."""
    t0 = time.perf_counter()
    get_spark = import_package()
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    return Runner(spark, data_dir), {"import_s": t1 - t0, "get_spark_s": t2 - t1}


def warm_setups(runner: Runner, first: str, conf: dict, data_dir: str):
    """Set up ``RESTARTS`` times in the running JVM (module docstring, step
    3); returns the runner on the last session, the median of each part of
    the set-ups (``cpu_s`` is ``setup_s``) and every set-up's parts."""
    clock = runner.clock
    warm = []
    for _ in range(RESTARTS):
        c0, t0 = clock.read()[0], time.perf_counter()
        runner.spark.stop()
        t1 = time.perf_counter()
        get_spark = import_package()
        t2 = time.perf_counter()
        runner = Runner(get_spark(app_name="perfbench", extra_conf=conf), data_dir)
        t3 = time.perf_counter()
        runner.request(first)
        t4 = time.perf_counter()
        warm.append({"stop_s": t1 - t0, "import_s": t2 - t1, "get_spark_s": t3 - t2,
                     "warmup_s": t4 - t3, "wall_s": t4 - t0, "cpu_s": clock.read()[0] - c0})
    return runner, {k: median(w[k] for w in warm) for k in warm[0]}, warm


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", choices=sorted(os.listdir(FIXTURES)) if os.path.isdir(FIXTURES) else None,
                    help="fixture scale to read instead of the workload's own (self-tests)")
    args = ap.parse_args(argv)
    data_dir = os.path.join(FIXTURES, args.data or DATA[args.workload])

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    runner = None
    try:
        conf = contain(run_dir)
        sys.path.insert(0, HERE)
        runner, cold = cold_setup(conf, data_dir)
        t_verify = time.perf_counter()
        expected, verdicts = verify(runner, args.workload, data_dir)
        verify_s = time.perf_counter() - t_verify
        runner, session, warm = warm_setups(runner, WORKLOADS[args.workload][0], conf, data_dir)
        spark = runner.spark

        order = passes(args.workload, args.seed)
        n = n_passes(args.seconds)
        with Memory(spark, runner.jvm_pid) as mem:
            if args.trace:
                from spans import Tracer

                # Untraced and traced passes alternate, so drifting contention
                # on the host moves both sides alike; together they make the
                # run's passes.
                tracer, probe = Tracer(), LayerProbe(spark)
                plain_parts, traced_parts = [], []
                for _ in range(max(1, n // 2)):
                    plain_parts.append(measure(runner, order, 1, expected, mem))
                    runner.tracer, runner.jobs = tracer, probe.jobs
                    probe.pipeline.PROGRESS_SINK = []
                    tracer.install()
                    traced_parts.append(measure(runner, order, 1, expected, mem, probe))
                    tracer.uninstall()
                    runner.tracer = runner.jobs = probe.pipeline.PROGRESS_SINK = None
                plain, traced = merge(plain_parts), merge(traced_parts)
            else:
                plain = measure(runner, order, n, expected, mem)
        attempted, failed = plain["attempted"], plain["failed"]
        correct = bool(plain["cpu"]) and None not in expected.values()
        detail = {
            "workload": args.workload, "seed": args.seed, "data": os.path.basename(data_dir),
            "commit": git_commit(), "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)), "setup": {"cold": cold, "warm": warm},
            "verify_s": verify_s, "verdicts": verdicts, "samples": sum(map(len, plain["cpu"].values())),
            "measured_s": plain["elapsed"], "wall_clock": wall_clock(plain) if correct else None,
            "memory_mb": {"jvm_live": mem.live / 2**20, "workers_peak": mem.workers / 2**20},
            "per_id_median_s": {q: median(v) for q, v in sorted(plain["lat"].items())},
            "per_id_median_cpu_s": {q: median(v) for q, v in sorted(plain["cpu"].items())},
        }

        if args.trace:
            attempted += traced["attempted"]
            failed += traced["failed"]
            metrics = per_layer(tracer, probe, session, os.path.join(run_dir, "tmp"))
            units = LAYER_UNITS
            detail["trace"] = trace_check(traced, plain)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(plain, session["cpu_s"], mem) if correct else {}
            units = E2E_UNITS
            size, dirs = scratch_left(os.path.join(run_dir, "tmp"))
            detail["scratch"] = {"bytes_left": size, "dirs_left": dirs}

        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": bool(correct and failed == 0),
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if runner is not None:
            stop_spark(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
