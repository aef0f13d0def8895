"""Fill BASELINE.md: time every oracle-checked query in DuckDB and in Spark
at a given SF, and print a markdown table. Per engine and id: one warm run
(discarded), then the mean of 2 timed runs. The Spark side runs each id
through ``record.run_query`` (GC, then noop sink).

Usage: python scripts/bench_baseline.py [sf_dir] [query_id ...]
"""

from __future__ import annotations

import statistics
import sys
import time

sys.path.insert(0, ".")

from tests.oracle import duck_connection  # noqa: E402

from mini_project_big_data_analysis_spark.queries import all_queries  # noqa: E402
from mini_project_big_data_analysis_spark.record import run_query  # noqa: E402
from mini_project_big_data_analysis_spark.session import get_spark  # noqa: E402


def warm_mean2(fn) -> float:
    fn()  # warm (discarded)
    return statistics.median(fn() for _ in range(2))  # median of 2 = mean


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="mpbda-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    rows = []
    for qid, q in sorted(all_queries().items()):
        if only and qid not in only:
            continue

        def duck_run(sql=q.oracle):
            t0 = time.time()
            con.sql(sql).fetchall()
            return time.time() - t0

        # rows-only ids (oracle=None) get a Spark-side baseline row too —
        # the 2× regression guard must cover every registered id.
        d = warm_mean2(duck_run) if q.oracle is not None else None
        s = warm_mean2(lambda: run_query(spark, qid, sf_dir)["wall_s"])
        # release any cache a query leaves behind so pinned blocks don't
        # distort the remaining entries
        spark.catalog.clearCache()
        rows.append((qid, d, s))
        dtxt = f"duck={d:.3f}s" if d is not None else "duck=—"
        print(f"# {qid}: {dtxt} spark={s:.3f}s", file=sys.stderr)

    print("| query id | DuckDB s | Spark s | Spark/DuckDB |")
    print("|---|---|---|---|")
    for qid, d, s in rows:
        if d is None:
            print(f"| `{qid}` | — | {s:.3f} | — |")
        else:
            print(f"| `{qid}` | {d:.3f} | {s:.3f} | {s / max(d, 1e-9):.1f}× |")
    dtot = sum(d for _, d, _ in rows if d is not None)
    print(f"| **total** | **{dtot:.2f}** | **{sum(s for _, _, s in rows):.2f}** | |")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
