"""A session the engine did not build, in a process the engine did not
start: the driver's contract (``__spark_entry__.py``).

The driver builds its own ``SparkSession`` from a working directory outside
the checkout and with no ``PYTHONPATH``, imports ``__spark_entry__`` and runs
``queries()``. Python workers then find the package only through
``session.provision``, which every ``queries()`` entry runs; the ids below
start Python workers three ways (a pandas UDF, a Python data source and the
transformWithState state server). The run happens in a child process so the
session is really built outside ``get_spark``, with Spark's own static conf.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

IDS = ["ext_dedup_simhash", "src_python_datasource", "stream_tws_dedup"]

DRIVER = textwrap.dedent(
    """
    import json, sys

    sys.path.insert(0, {repo!r})  # how the driver imports __spark_entry__
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from mini_project_big_data_analysis_spark.record import run_query
    from mini_project_big_data_analysis_spark.streaming import pipeline
    from tests.oracle import compare, duck_connection

    duck = duck_connection({sf!r})
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = {{}}
    for qid in {ids!r}:
        pipeline.PROGRESS_SINK = []
        ok, msg = compare(queries[qid](spark, {sf!r}), duck, oracles[qid])
        names = [rec["name"] for rec in pipeline.PROGRESS_SINK]
        out[qid] = {{"ok": ok, "msg": msg, "names": names}}
    out["session"] = run_query(spark, "agg_group_avg", {sf!r})["session"]
    print("RESULT " + json.dumps(out))
    spark.stop()
    """
)


def test_external_session_runs_python_worker_ids(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = DRIVER.format(repo=REPO, sf=SF_DIR, ids=IDS)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])
    for qid in IDS:
        assert out[qid]["ok"], f"{qid}: {out[qid]['msg']}"
    names = out["stream_tws_dedup"]["names"]
    assert len(names) == 1 and names[0].startswith("tws_dedup_"), names
    assert not names[0].startswith("tws_dedup_fallback_"), names
    # the cache size is static: a session built elsewhere keeps Spark's own
    assert out["session"]["codegen_cache_entries"] == 100
    assert out["session"]["master"] == "local[2]"
