"""Shuffle-plane audit: measure the bytes each query actually moves.

The 100 TB design claim for the dedup/text/aggregate tiers is that the
shuffle plane carries fixed-width digests and partial aggregates — never
document payloads (SCALING.md; operators/dedup.py plan notes). PLANS.md and
scripts/audit_plans.py argue this from plan SHAPE; this script measures it:
for every query id it runs the plan to a noop sink inside a UI-enabled
session and diffs the completed-stage metric totals from the Spark status
REST API (/api/v1/applications/<app>/stages), yielding per-id

    input_records        rows read from storage by the scan stages
    input_bytes          bytes read (NOTE: local-fs Hadoop statistics
                         under-count parquet column-chunk reads — 3.4 kB
                         reported for a 65 kB file — so RECORDS, not bytes,
                         is the trustworthy denominator in this container)
    shuffle_write_bytes  bytes serialized into shuffle files (one side of
                         every exchange; reads re-count the same bytes)
    spill_bytes          memory+disk spill (should be 0 at tier scale)
    shuffle B/row        shuffle_write_bytes / input_records — the number
                         the 100 TB argument rests on

A digest-shuffling dedup id costs a small CONSTANT per scanned row (a
16-byte md5 + ids ≈ tens of bytes) regardless of document size, so its
B/row holds flat from sf0.01 to 100 TB; an operator that shuffles payloads
scales B/row with the documents themselves and re-plans before it ships.
Usage:

    python scripts/audit_shuffle.py [sf_dir] [qid ...]

Prints a markdown table (stderr mirrors progress) plus ONE JSON line
{qid: {"input": n, "shuffle": n, "spill": n}} for SCALING.md bookkeeping.
Stage metrics arrive on the listener bus asynchronously, so each query's
collection polls until the completed-stage set is stable.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from mini_project_big_data_analysis_spark.queries import all_queries  # noqa: E402
from mini_project_big_data_analysis_spark.session import get_spark  # noqa: E402

UI_PORT = 4057  # off the 4040 default so a concurrent dev session can't collide


def _fetch_stages(app_id: str) -> list[dict]:
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _stable_stages(app_id: str) -> dict[tuple[int, int], dict]:
    """Poll until the completed-stage set stops growing (listener-bus lag).

    Stability = THREE consecutive identical snapshots, not two: a single
    0.2 s gap in listener-bus/REST propagation between stage postings
    would otherwise end polling early and silently attribute the missing
    stages' shuffle bytes to the NEXT qid — masking a B/row breach while
    inflating a neighbor's (ADVICE r12). An empty snapshot counts toward
    stability like any other (the old ``prev and …`` guard could never
    match the pre-first-query empty set, burning the full 10 s budget on
    the baseline call).
    """
    prev: dict[tuple[int, int], dict] | None = None
    streak = 0
    for _ in range(50):
        cur = {(s["stageId"], s["attemptId"]): s for s in _fetch_stages(app_id)}
        streak = streak + 1 if prev is not None and set(cur) == set(prev) else 0
        if streak >= 2:  # cur plus the two snapshots before it agree
            return cur
        prev = cur
        time.sleep(0.2)
    # Budget exhausted without 3 identical snapshots: the REST endpoint is
    # still churning (or degraded), so the snapshot below may be missing
    # stages whose bytes would then be misattributed to the NEXT qid — the
    # same silent-misattribution failure the 3-snapshot rule exists to
    # catch, just at a longer lag (ADVICE r14). Fail loudly instead of
    # folding the gap into a neighbor's B/row.
    raise RuntimeError(
        f"stage snapshot for app {app_id} never stabilized within the "
        "50x0.2s poll budget (completed-stage set kept changing); the Spark "
        "UI REST endpoint is lagging or degraded — re-run the audit, or "
        "raise the poll budget, rather than accepting a snapshot that "
        "would misattribute shuffle bytes across qids"
    )


def audit(spark, sf_dir: str, ids: list[str]) -> dict[str, dict[str, int]]:
    registry = all_queries()
    app_id = spark.sparkContext.applicationId
    out: dict[str, dict[str, int]] = {}
    seen = set(_stable_stages(app_id))
    for qid in ids:
        registry[qid].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        stages = _stable_stages(app_id)
        new = [s for k, s in stages.items() if k not in seen]
        seen = set(stages)
        rec = {
            "records": sum(s.get("inputRecords", 0) for s in new),
            "input": sum(s.get("inputBytes", 0) for s in new),
            "shuffle": sum(s.get("shuffleWriteBytes", 0) for s in new),
            "spill": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in new
            ),
            "stages": len(new),
        }
        out[qid] = rec
        bpr = rec["shuffle"] / rec["records"] if rec["records"] else float("nan")
        print(
            f"# {qid}: records={rec['records']:,} shuffle={rec['shuffle']:,} "
            f"spill={rec['spill']:,} B/row={bpr:.1f} stages={rec['stages']}",
            file=sys.stderr,
        )
        # drop any blocks a query left persisted so cached scans don't zero
        # the next id's input-byte denominator
        spark.catalog.clearCache()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark(
        app_name="mpbda-shuffle-audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            # default retainedStages=1000 would evict early ids' rows during
            # a full-catalog audit and silently under-count them
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    # Streaming ids drive their own micro-batch machinery with per-trigger
    # bookkeeping stages; their shuffle story is pinned by the sf100 sink
    # invariants instead (SCALING.md round-11 section).
    ids = only or [q for q in sorted(registry) if not q.startswith("stream_")]
    res = audit(spark, sf_dir, ids)

    print("| query id | input rows | shuffle write B | spill B | shuffle B/row |")
    print("|---|---|---|---|---|")
    for qid, r in res.items():
        bpr = f"{r['shuffle'] / r['records']:.1f}" if r["records"] else "—"
        print(f"| {qid} | {r['records']:,} | {r['shuffle']:,} | {r['spill']:,} | {bpr} |")
    print(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "stages"} for k, v in res.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
