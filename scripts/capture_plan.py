"""Capture `.explain("formatted")` + a warm noop-sink timing for query ids.

Usage: python scripts/capture_plan.py SF_DIR TAG QID [QID ...]

Writes plans/r17/<qid>_<tag>.txt in the round-16 capture format: a header
line with the warm best-of-2 noop timing, then the formatted physical plan.
One session for all ids, each run through ``record.run_query`` (same
protocol as bench.py's full tier).
"""

from __future__ import annotations

import os
import sys


USAGE = "usage: python scripts/capture_plan.py SF_DIR TAG QID [QID ...]"


def main() -> int:
    if len(sys.argv) < 4:
        print(USAGE, file=sys.stderr)
        return 2
    sf_dir, tag, *qids = sys.argv[1:]
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.record import run_query

    registry = all_queries()
    unknown = [q for q in qids if q not in registry]
    if unknown:
        print(f"unknown query id(s): {' '.join(unknown)}\n{USAGE}", file=sys.stderr)
        return 2

    from mini_project_big_data_analysis_spark.session import get_spark

    spark = get_spark(app_name="mpbda-capture")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17")
    os.makedirs(outdir, exist_ok=True)
    for qid in qids:
        run_query(spark, qid, sf_dir)  # warm, discarded
        draws = [run_query(spark, qid, sf_dir)["wall_s"] for _ in range(2)]
        best = min(draws)
        df = registry[qid].fn(spark, sf_dir)
        explained = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(outdir, f"{qid}_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {qid} [{tag}] — warm noop-sink best-of-2: {best:.3f}s "
                f"(draws {[f'{d:.3f}' for d in draws]}) @ {sf_dir} {spark.sparkContext.master}\n\n"
            )
            f.write(explained)
        print(f"{qid} [{tag}]: {best:.3f}s -> {path}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
