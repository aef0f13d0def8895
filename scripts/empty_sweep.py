"""Catalog-wide empty-input robustness sweep.

Builds a zero-row fixture (same schemas as /root/testdata/sf0.001, written
once to testdata_empty/) and runs EVERY registered query against it,
asserting each one plans + executes without throwing. At 100 TB an
empty-after-filter input is an ordinary Tuesday (a date partition with no
rows, a tenant with no documents), so any operator that crashes on zero rows
— typically a driver-side boundary action like ``approxQuantile`` returning
``[]`` and being indexed — is a real scale bug, not a test artifact.

Usage:
    python scripts/empty_sweep.py [ids...]     # default: all registered ids

Prints one line per failure and a final summary; exit code 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_project_big_data_analysis_spark.schemas import TABLE_SCHEMAS  # noqa: E402

SRC_SF_DIR = "/root/testdata/sf0.001"
EMPTY_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_empty")

TABLES = tuple(TABLE_SCHEMAS)


def build_empty_fixture(out_dir: str | None = None) -> str:
    """Write zero-row copies of every driver table, preserving parquet schema.

    Copies happen at the raw parquet level, so each zero-row footer keeps
    the source's physical types (the NTZ date and ``ts`` columns among
    them), which ``readers.scan_schema`` checks like any other footer.
    """
    out_dir = out_dir or EMPTY_DIR
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow.parquet as pq

    for name in TABLES:
        out = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(out):
            continue
        src = pq.read_table(os.path.join(SRC_SF_DIR, f"{name}.parquet"))
        pq.write_table(src.slice(0, 0), out)
    return out_dir


def main(argv: list[str]) -> int:
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.record import run_query
    from mini_project_big_data_analysis_spark.session import get_spark

    spark = get_spark()
    build_empty_fixture()

    registry = all_queries()
    ids = argv or list(registry)
    failures: list[tuple[str, str]] = []
    for i, qid in enumerate(ids):
        if qid not in registry:
            print(f"?? unknown id {qid}", flush=True)
            continue
        try:
            # the schema must be derivable and the plan must run
            rec = run_query(spark, qid, EMPTY_DIR, action=lambda df: (df.schema, df.count()))
            _, n = rec["result"]
            print(f"ok  {qid} rows={n} [{i + 1}/{len(ids)}]", flush=True)
        except Exception as exc:  # noqa: BLE001 - sweep reports, caller fixes
            short = traceback.format_exception_only(type(exc), exc)[-1].strip()
            failures.append((qid, short))
            print(f"FAIL {qid}: {short[:300]}", flush=True)
    print(f"\n{len(ids) - len(failures)}/{len(ids)} ok, {len(failures)} failures")
    for qid, msg in failures:
        print(f"  {qid}: {msg[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
