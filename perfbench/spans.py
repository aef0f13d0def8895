"""Per-layer tracing for the benchmark, recorded from outside the package.

Layer spans come from wrapping the package's public entry points in place
(``install``); nothing inside the package changes. Spans stay in memory and
are written once, when the run ends. Spark-side counters come from the
in-process status store and streaming counters from
``streaming.pipeline.PROGRESS_SINK``.

Layers, named after the package's modules:

- ``sources``: ``sources.readers.read_table`` and ``sources.events.load_events``
  (``queries.base.load`` reaches both);
- ``streaming``: every ``streaming.pipeline.run_*`` runner;
- ``sinks``: ``sources.writers.upsert_into`` and the ``KeyedTableStore``
  backends' ``initialize`` / ``overwrite_buckets``;
- ``queries``, ``plan`` and ``exec``: the three phases of a request (the
  call to the query function, forcing the physical plan, the action), which
  the runner records itself with :meth:`Tracer.span`.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "mini_project_big_data_analysis_spark"


class Tracer:
    """Span recorder. A span is ``[layer, name, request, thread, t0, t1,
    parent]`` where ``parent`` indexes the enclosing span on the same thread
    (-1 for none). Self time is a span's duration minus its children's."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.request = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [layer, name, self.request, threading.get_ident(), time.perf_counter(), None,
               stack[-1] if stack else -1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[5] = time.perf_counter()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__qualname__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap each layer's entry points wherever the package holds a
        reference to them (modules that imported the function by name keep
        their own binding)."""
        from mini_project_big_data_analysis_spark.sources import events, readers, writers
        from mini_project_big_data_analysis_spark.streaming import pipeline

        targets = {
            readers.read_table: "sources",
            events.load_events: "sources",
            writers.upsert_into: "sinks",
        }
        for name, fn in vars(pipeline).items():
            if name.startswith("run_") and inspect.isfunction(fn):
                targets[fn] = "streaming"
        wrapped = {fn: self._wrap(layer, fn) for fn, layer in targets.items()}
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped[val])
        for cls in writers.KeyedTableStore.__subclasses__():
            for attr in ("initialize", "overwrite_buckets"):
                if attr in vars(cls):
                    orig = vars(cls)[attr]
                    self._patched.append((cls, attr, orig))
                    setattr(cls, attr, self._wrap("sinks", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: summed self time and the number of outermost spans
        (a span whose parent belongs to another layer)."""
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec[6] >= 0:
                child_s[rec[6]] += rec[5] - rec[4]
        out: dict[str, dict[str, float]] = {}
        for i, rec in enumerate(self.spans):
            tot = out.setdefault(rec[0], {"self_s": 0.0, "calls": 0})
            tot["self_s"] += rec[5] - rec[4] - child_s[i]
            if rec[6] < 0 or self.spans[rec[6]][0] != rec[0]:
                tot["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["layer", "name", "request", "thread", "t0", "t1", "parent"],
                 "spans": self.spans},
                f,
            )


class JobCounter:
    """Spark job and stage counters for job-id ranges.

    Job ids are handed out in order by the scheduler, and the benchmark runs
    one request at a time, so the jobs a request started are exactly the ids
    between two reads of the next id, including jobs that streaming
    micro-batches start on their own threads (those carry no job group)."""

    FIELDS = ("stages", "tasks", "failed_tasks", "input_rows", "input_bytes",
              "output_bytes", "shuffle_write_bytes", "spill_bytes", "run_ms", "cpu_ns")

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def totals(self, first: int, end: int) -> dict[str, int]:
        """Counters summed over jobs ``first`` .. ``end - 1`` (every listener
        event is delivered before reading)."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0)
        for jid in range(first, end):
            ids = store.job(jid).stageIds()
            for i in range(ids.length()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["input_rows"] += sd.inputRecords()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ns"] += sd.executorCpuTime()
        return out


def drain_progress(pipeline) -> dict[str, int]:
    """Sum and clear the micro-batch records the streaming runners appended
    to ``pipeline.PROGRESS_SINK`` since the last call."""
    out = dict.fromkeys(
        ("batches", "input_rows", "add_batch_ms", "query_planning_ms",
         "state_commit_ms", "state_rows"), 0)
    for rec in pipeline.PROGRESS_SINK:
        progress = rec["progress"]
        for p in progress:
            dur = p.get("durationMs") or {}
            out["batches"] += 1
            out["input_rows"] += int(p.get("numInputRows") or 0)
            out["add_batch_ms"] += int(dur.get("addBatch", 0))
            out["query_planning_ms"] += int(dur.get("queryPlanning", 0))
            for op in p.get("stateOperators") or []:
                out["state_commit_ms"] += int(op.get("commitTimeMs", 0))
        if progress:
            out["state_rows"] += sum(
                int(op.get("numRowsTotal", 0)) for op in progress[-1].get("stateOperators") or []
            )
    pipeline.PROGRESS_SINK.clear()
    return out
