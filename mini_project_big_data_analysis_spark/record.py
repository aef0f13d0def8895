"""One way to run and record a query.

``run_query(spark, qid, sf_dir, action=noop_write)`` runs one catalog id the
way bench, the audits and the dev loop time it, and returns a flat record of
what the run did:

- ``build_s``: the query function's call (relation init, listing, eager
  checkpoints and, for streaming ids, the micro-batch run itself);
- ``exec_s``: ``action`` on the returned frame, planning included (the noop
  write plans again in its own command, so forcing the plan first would plan
  twice);
- ``wall_s``: ``build_s + exec_s``;
- ``jobs``, ``stages``, ``tasks``, ``failed_tasks``, ``input_rows``,
  ``input_bytes``, ``shuffle_write_bytes``, ``spill_bytes``: summed over the
  Spark jobs the run started (skipped stages excluded);
- ``compiles``: classes Janino compiled during the run
  (``session.compiled_classes``);
- ``session``: what the session is (``session.describe``: master, default
  parallelism, compiled-class cache entries);
- ``stream``: when the run started streaming queries, one summary of their
  micro-batch progress (``STREAM_FIELDS`` plus ``names``, the query names,
  which tell the TWS path ``tws_dedup_<hex>`` from its fallback
  ``tws_dedup_fallback_<hex>``); else None;
- ``result``: what ``action`` returned.

A JVM GC runs before the clock starts, so garbage left by the previous query
is not charged to this one (measured: a pandas-UDF-heavy predecessor inflated
the next 2-3 ids 3-7x). Every counter is read after the clock stops.

Job ids are handed out in order by the scheduler and a caller runs one query
at a time, so the jobs a run started are exactly the ids between two reads of
the scheduler's next id, including the jobs streaming micro-batches start on
their own threads. Their stage metrics come from the driver's status store,
which Spark keeps with the UI off, after the listener bus has delivered every
event. A job of the range, or a stage that ran in one, that has already left
the store (``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``) raises
instead of being counted as zero.

Nothing on the request path imports this module.
"""

from __future__ import annotations

import os
import sys
import time

from py4j.protocol import Py4JJavaError

from .queries import all_queries
from .session import compiled_classes, describe
from .streaming import pipeline

STAGE_FIELDS = ("stages", "tasks", "failed_tasks", "input_rows", "input_bytes",
                "shuffle_write_bytes", "spill_bytes")
STREAM_FIELDS = ("batches", "input_rows", "add_batch_ms", "state_commit_ms", "peak_state",
                 "end_state", "late_dropped", "removed", "peak_mem")


def noop_write(df) -> None:
    """Run the whole plan and discard its rows (no driver-side collect)."""
    df.write.mode("overwrite").format("noop").save()


def run_query(spark, qid: str, sf_dir: str, action=noop_write) -> dict:
    """Run ``qid`` at ``sf_dir``, apply ``action`` to its frame and return the
    run's record (module docstring). ``pipeline.PROGRESS_SINK`` is back to the
    value it had on entry when this returns or raises."""
    sc = spark.sparkContext._jsc.sc()
    spark.sparkContext._jvm.System.gc()
    compiled, first_job = compiled_classes(spark), _next_job_id(sc)
    saved, pipeline.PROGRESS_SINK = pipeline.PROGRESS_SINK, []
    try:
        t0 = time.perf_counter()
        df = all_queries()[qid].fn(spark, sf_dir)
        t1 = time.perf_counter()
        result = action(df)
        t2 = time.perf_counter()
    finally:
        progress, pipeline.PROGRESS_SINK = pipeline.PROGRESS_SINK, saved
    end_job = _next_job_id(sc)
    sc.listenerBus().waitUntilEmpty()
    return {
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        "wall_s": t2 - t0,
        "jobs": end_job - first_job,
        **_stage_counters(sc.statusStore(), qid, first_job, end_job),
        "compiles": compiled_classes(spark) - compiled,
        "session": describe(spark),
        "stream": _stream_summary(progress),
        "result": result,
    }


def take_stream_budget(argv: list[str], usage: str) -> None:
    """Remove ``--stream-budget SECONDS`` from a script's ``argv`` and apply
    it: the live ``pipeline.STREAM_BUDGET_S`` (bound when the queries package
    imported) and ``SPARK_GRAFT_STREAM_BUDGET_S`` (late imports, child
    processes). A missing or non-numeric value prints ``usage`` and exits 2."""
    if "--stream-budget" not in argv:
        return
    i = argv.index("--stream-budget")
    try:
        budget = float(argv[i + 1])
    except (IndexError, ValueError):
        print(f"--stream-budget requires a number of seconds\n{usage}", file=sys.stderr)
        raise SystemExit(2) from None
    del argv[i : i + 2]
    os.environ["SPARK_GRAFT_STREAM_BUDGET_S"] = str(budget)
    pipeline.STREAM_BUDGET_S = budget


def _next_job_id(sc) -> int:
    return int(sc.dagScheduler().nextJobId())


def _stored(get, key):
    """``get(key)`` from the status store, or None when the store does not
    hold ``key`` (never recorded, or evicted)."""
    try:
        return get(key)
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None


def _stage_counters(store, qid: str, first: int, end: int) -> dict[str, int]:
    """``STAGE_FIELDS`` summed over the stages that ran in jobs ``first`` ..
    ``end - 1``. Spark evicts skipped stages first (they have no completion
    time) and they carry no counters, so a missing stage is fine while every
    stage its job completed is found; a missing job, or a missing stage that
    ran, raises."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for jid in range(first, end):
        job = _stored(store.job, jid)
        if job is None:
            raise _evicted(qid, f"job {jid}")
        ids, completed = job.stageIds(), 0
        for i in range(ids.length()):
            sid = ids.apply(i)
            sd = _stored(store.lastStageAttempt, sid)
            status = sd.status().toString() if sd is not None else "SKIPPED"
            if status == "SKIPPED":
                continue
            completed += status == "COMPLETE"
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_rows"] += sd.inputRecords()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if completed < job.numCompletedStages():
            raise _evicted(qid, f"a stage job {jid} completed")
    return out


def _evicted(qid: str, what: str) -> RuntimeError:
    return RuntimeError(
        f"{qid}: {what} has left the status store, so the record would undercount; "
        "raise spark.ui.retainedJobs / spark.ui.retainedStages"
    )


def _op_sum(ops: list, key: str) -> int:
    return sum(int(op.get(key, 0)) for op in ops)


def _stream_summary(progress: list[dict]) -> dict | None:
    """One summary of the ``PROGRESS_SINK`` records a run appended: batch and
    input totals, ``addBatch`` and state-commit ms, peak and end state rows
    (end = the largest last-batch state of any query), late input rows the
    watermark dropped, state rows it removed, peak state-store memory."""
    if not progress:
        return None
    out = dict.fromkeys(STREAM_FIELDS, 0)
    for rec in progress:
        batches = rec["progress"]
        out["batches"] += len(batches)
        for p in batches:
            ops = p.get("stateOperators") or []
            out["input_rows"] += int(p.get("numInputRows") or 0)
            out["add_batch_ms"] += int((p.get("durationMs") or {}).get("addBatch", 0))
            out["state_commit_ms"] += _op_sum(ops, "commitTimeMs")
            out["peak_state"] = max(out["peak_state"], _op_sum(ops, "numRowsTotal"))
            out["peak_mem"] = max(out["peak_mem"], _op_sum(ops, "memoryUsedBytes"))
            out["late_dropped"] += _op_sum(ops, "numRowsDroppedByWatermark")
            out["removed"] += _op_sum(ops, "numRowsRemoved")
        if batches:
            last_ops = batches[-1].get("stateOperators") or []
            out["end_state"] = max(out["end_state"], _op_sum(last_ops, "numRowsTotal"))
    out["names"] = [rec["name"] for rec in progress]
    return out
