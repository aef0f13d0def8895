"""Streaming state-plane audit: what each stateful query actually keeps.

The batch shuffle plane is measured by scripts/audit_shuffle.py; this is
its streaming twin. Every registered stream id runs through
``record.run_query`` (action: ``count()`` of the sink read-back), whose
record carries one summary of the run's per-micro-batch progress
(``pipeline.PROGRESS_SINK``):

    batches       micro-batches executed (paced ids run >1)
    input_rows    rows delivered across all batches
    peak_state    max over batches of total rows held in state
    end_state     rows still in state at termination
    late_dropped  late input rows the watermark dropped across the run
    removed       state rows the watermark expired across the run
    peak_mem      max state-store memory used (bytes)
    names         the streaming query names (TWS path vs fallback)

The 100 TB claims this pins: dedup state holds ONE entry per key under a
double delivery (peak_state == distinct keys, not 2×); watermarks actually
evict (late_filter's drop counter is non-zero); the windowed aggs keep
window-grain state (peak_state ≈ windows, orders of magnitude below
input_rows); and the round-11 stateful_stats re-plan keeps NOTHING in
keyed state (map-side combine — no state operator at all).

Usage: python scripts/audit_stream_state.py [--stream-budget SECONDS] [sf_dir] [qid ...]
Prints a markdown table and ONE JSON line {qid: {...}}.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from mini_project_big_data_analysis_spark.queries import all_queries  # noqa: E402
from mini_project_big_data_analysis_spark.record import (  # noqa: E402
    run_query,
    take_stream_budget,
)
from mini_project_big_data_analysis_spark.session import get_spark  # noqa: E402

USAGE = "usage: python scripts/audit_stream_state.py [--stream-budget SECONDS] [sf_dir] [qid ...]"


def main() -> int:
    argv = sys.argv[1:]
    # a large-fixture audit must be able to raise the 300 s availableNow
    # budget (the sf100 sweep ran at 1800 s)
    take_stream_budget(argv, USAGE)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:]
    spark = get_spark(app_name="mpbda-stream-state-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress retains only the last numRecentProgressUpdates
    # (default 100) records per query; availableNow plans ~one micro-batch
    # per source file, so a large fixture would silently under-count
    # input_rows/peak_state/late_dropped right when the sweep matters most
    # (ADVICE r13 medium). Raise the cap far above any fixture's file
    # count; pipeline._capture_progress additionally fails loudly if a
    # capture ever lands at the cap.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    registry = all_queries()
    ids = only or [q for q in sorted(registry) if q.startswith("stream_")]
    out: dict[str, dict] = {}
    for qid in ids:
        # count() materializes the sink read-back; the streaming work
        # itself already ran inside the query function
        out[qid] = run_query(spark, qid, sf_dir, action=lambda df: df.count())["stream"]
        print(f"# {qid}: {out[qid]}", file=sys.stderr)
    print(
        "| query id | batches | input rows | peak state rows | end state "
        "| late dropped | state removed | peak state mem |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for qid, r in out.items():
        print(
            f"| {qid} | {r['batches']} | {r['input_rows']:,} | {r['peak_state']:,} "
            f"| {r['end_state']:,} | {r['late_dropped']:,} | {r['removed']:,} "
            f"| {r['peak_mem']:,} |"
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
