"""Shuffle-plane audit: measure the bytes each query actually moves.

The 100 TB design claim for the dedup/text/aggregate tiers is that the
shuffle plane carries fixed-width digests and partial aggregates — never
document payloads (SCALING.md; operators/dedup.py plan notes). PLANS.md and
scripts/audit_plans.py argue this from plan SHAPE; this script measures it:
every query id runs to a noop sink through ``record.run_query``, whose
record sums the stage metrics of the jobs the run started (read from the
driver's status store, UI off, after the listener bus drained), yielding
per id

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
{qid: {"records": n, "input": n, "shuffle": n, "spill": n}} for SCALING.md
bookkeeping.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from mini_project_big_data_analysis_spark.queries import all_queries  # noqa: E402
from mini_project_big_data_analysis_spark.record import run_query  # noqa: E402
from mini_project_big_data_analysis_spark.session import get_spark  # noqa: E402

#: this audit's JSON keys -> the run record's stage counters
RECORD_FIELDS = {"records": "input_rows", "input": "input_bytes",
                 "shuffle": "shuffle_write_bytes", "spill": "spill_bytes"}


def audit(spark, sf_dir: str, ids: list[str]) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for qid in ids:
        r = run_query(spark, qid, sf_dir)
        out[qid] = rec = {key: r[field] for key, field in RECORD_FIELDS.items()}
        bpr = rec["shuffle"] / rec["records"] if rec["records"] else float("nan")
        print(
            f"# {qid}: records={rec['records']:,} shuffle={rec['shuffle']:,} "
            f"spill={rec['spill']:,} B/row={bpr:.1f} stages={r['stages']}",
            file=sys.stderr,
        )
        # drop any blocks a query left persisted so cached scans don't zero
        # the next id's input-byte denominator
        spark.catalog.clearCache()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark(app_name="mpbda-shuffle-audit")
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
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
