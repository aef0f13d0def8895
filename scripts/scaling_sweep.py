"""SCALING.md sweep: time a set of query ids at one SF dir under the BENCH
protocol (fresh JVM per invocation, warm-discarded + best-of-2 per id, noop
sink, each run through ``record.run_query``) and print one JSON line
{"sf_dir": ..., "timings": {qid: sec}}.

Run once per SF dir — a FRESH process per sweep is part of the protocol
(round 7 measured long-session sweeps inflating tails 1.6x via heap
pressure):

    python scripts/scaling_sweep.py /root/testdata/sf0.1  q1 q2 ...
    python scripts/scaling_sweep.py testdata_sf1 q1 q2 ...
    python scripts/scaling_sweep.py testdata_sf3 q1 q2 ...

``--stream-budget SECONDS`` raises the 300 s availableNow budget for a tier
sweep over the stream ids (VERDICT r11).
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

USAGE = "usage: python scripts/scaling_sweep.py [--stream-budget SECONDS] SF_DIR QID [QID ...]"


def main() -> int:
    argv = sys.argv[1:]
    take_stream_budget(argv, USAGE)
    if len(argv) < 2:
        print(USAGE, file=sys.stderr)
        return 2
    unknown = [q for q in argv[1:] if q not in all_queries()]
    if unknown:
        print(f"unknown query id(s): {' '.join(unknown)}\n{USAGE}", file=sys.stderr)
        return 2
    sf_dir, *ids = argv

    from mini_project_big_data_analysis_spark.session import get_spark

    spark = get_spark(app_name="mpbda-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    run_query(spark, ids[0], sf_dir)  # JVM warm-up, discarded
    out = {}
    for qid in ids:
        run_query(spark, qid, sf_dir)  # per-id warm (codegen/worker spin-up), discarded
        out[qid] = round(min(run_query(spark, qid, sf_dir)["wall_s"] for _ in range(2)), 3)
        print(f"# {sf_dir} {qid}: {out[qid]}", file=sys.stderr)
        spark.catalog.clearCache()
    print(json.dumps({"sf_dir": sf_dir, "timings": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
