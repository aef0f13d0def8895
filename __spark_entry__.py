"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``mini_project_big_data_analysis_spark``; this file
is only the wiring.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mini_project_big_data_analysis_spark.queries import all_queries
from mini_project_big_data_analysis_spark.queries.flagship import flagship
from mini_project_big_data_analysis_spark.session import provision

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    provision(spark)
    return flagship(spark, SMOKE_SF_DIR)


def coverage_rotation() -> list[str]:
    """The driver's correctness window for the next round, computed from the
    ``CORRECTNESS_r<N>.json`` records next to this file.

    The driver hash-checks the first 50 ids of ``queries()`` iteration order
    each round, so the window puts first the ids that most need a driver
    row: ids whose last check failed, then ids the driver never checked,
    then the rest by (round last checked, id), stalest first. Rows-only ids
    (no oracle) are left out. COVERAGE_ROTATION.md states the policy.
    """
    last: dict[str, tuple[int, bool]] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        n = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for qid, rec in json.load(f).items():
                ok = rec["err"] is None and all(
                    rec[k] for k in ("rows_match", "schema_match", "hash_match")
                )
                if qid not in last or last[qid][0] < n:
                    last[qid] = (n, ok)

    def rank(qid: str) -> tuple:
        if qid not in last:
            return (1, 0, qid)
        n, ok = last[qid]
        return (2 if ok else 0, n, qid)

    oracle_ids = [qid for qid, q in all_queries().items() if q.oracle is not None]
    return sorted(oracle_ids, key=rank)[:50]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Iteration order = ``coverage_rotation()`` ids first (the round's driver
    correctness window, see that hook's docstring), then every remaining
    registered id in public registration order. Each query provisions the
    session it is handed (``session.provision``) before it builds.
    """

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            provision(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    registry = all_queries()
    ordered = {qid: registry[qid] for qid in coverage_rotation() if qid in registry}
    for qid, q in registry.items():
        ordered.setdefault(qid, q)
    return {qid: wrap(q.fn) for qid, q in ordered.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query id; ids absent here are rows-only."""
    return {qid: q.oracle for qid, q in all_queries().items() if q.oracle is not None}
