"""Compiled-class reuse and the session conf it rests on.

``session.get_spark`` sizes Spark's cache of Janino-compiled classes
(``CODEGEN_CACHE_ENTRIES``). At Spark's default of 100 entries the dashboard's
ids do not fit, so every refresh recompiled classes the previous one had
evicted; these pin that a warm refresh compiles nothing.
"""

from __future__ import annotations

import pytest

from mini_project_big_data_analysis_spark import session

#: The ``dashboard`` workload of ``perfbench/run.py`` (copied, not imported:
#: the test must not depend on the benchmark's harness).
DASHBOARD = [
    "agg_global_stats", "flagship_region_hourly_stats", "agg_cached_dashboard",
    "agg_pivot", "agg_describe", "agg_time_window", "agg_value_counts",
    "filt_ts_range", "filt_isin", "window_latest_per_key", "join_inner_equi",
    "sort_order_by",
]


def test_warm_dashboard_pass_compiles_nothing(spark, sf_dir):
    from mini_project_big_data_analysis_spark.queries import all_queries

    registry = all_queries()

    def one_pass() -> int:
        before = session.compiled_classes(spark)
        for qid in DASHBOARD:
            registry[qid].fn(spark, sf_dir).collect()
        return session.compiled_classes(spark) - before

    cold = one_pass()
    assert cold > 0, "the counter saw no compilation on a cold pass"
    assert one_pass() == 0, "a warm dashboard pass recompiled evicted classes"


def test_record_names_the_session_cache_size(spark, sf_dir):
    """Under ``get_spark`` the record's ``session`` shows the sized cache;
    an external session's (Spark's default of 100) is pinned in
    tests/test_external_session.py."""
    from mini_project_big_data_analysis_spark.record import run_query

    rec = run_query(spark, "agg_group_avg", sf_dir)
    assert rec["session"] == {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "codegen_cache_entries": session.CODEGEN_CACHE_ENTRIES,
    }


class _Conf:
    def __init__(self, error: Exception) -> None:
        self.error = error
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == "spark.sql.execution.arrow.pyspark.enabled":
            raise self.error
        self.values[key] = value


class _Context:
    def __init__(self) -> None:
        self.environment: dict[str, str] = {}


class _Session:
    def __init__(self, error: Exception) -> None:
        self.conf = _Conf(error)
        self.sparkContext = _Context()


def test_provision_tolerates_a_fixed_conf():
    fake = _Session(session.AnalysisException(message="cannot modify"))
    assert session.provision(fake) is fake
    # the other keys are still set and the workers still get the package
    assert fake.conf.values == {
        k: v for k, v in session.RUNTIME_CONF.items()
        if k != "spark.sql.execution.arrow.pyspark.enabled"
    }
    assert session.PACKAGE_ROOT in fake.sparkContext.environment["PYTHONPATH"]


def test_provision_propagates_other_errors():
    with pytest.raises(ConnectionError):
        session.provision(_Session(ConnectionError("gateway gone")))
