"""One-pass dashboard refresh group (SURVEY.md §3.3).

The reference dashboard re-scans the ENTIRE Mongo collection on every
5-minute refresh and every filter change (app.py:101 ``load_data()`` inside
the callback), then fans out six independent pandas aggregations over the
same frame (app.py:116-156).

``agg_cached_dashboard`` computes those six aggregates as ONE Spark
aggregate over one source scan and returns them as a single long-format
(metric, key, value) result — the shape a chart layer consumes:

- one projection (``event_type``, ``value``, ``ts``, ``date_trunc('hour',
  ts) AS hour``) behind the null filter;
- ``rollup(event_type, hour)``: Catalyst plans the three grouping levels
  (global, per type, per type-hour) as one ``Expand`` + ``HashAggregate``
  (Spark SQL, SIGMOD 2015), so the file is read once per refresh;
- one ``inline(CASE grouping_id ...)`` that turns each group into the rows
  of its level.

No ``.cache()``: a refresh always reads the file as it is now. The earlier
form cached the cleaned frame for the session and unioned ten branches off
it; Spark's CacheManager matched that cache by plan (file path), so after
``events.parquet`` was rewritten in place the next refresh in the same
session returned the old numbers. tests/test_sinks_dashboard.py pins both
properties: exactly one file scan and no cached relation per refresh, and
fresh numbers after an in-place rewrite.

Every expression is a SQL string (``selectExpr``, ``filter(str)``,
``F.expr``): in PySpark Classic each ``F.col``/``F.lit``/``alias`` call is a
JVM round trip. No temp view is registered (session.py concurrency
contract). Measured on the benchmark's sf0.01 fixture, ``local[4]``, 4 vCPUs
shared: 13 jobs / 13 stages / 22 tasks per request became 4 / 4 / 4, and
building the plan went from 975 py4j round trips to 107; the rows (3402)
and their hash are unchanged. ``count(DISTINCT event_type)`` costs one of
the four jobs; ``size(collect_set(...))`` saves it at sf0.01 but moves
every group to an ObjectHashAggregate that falls back to sorting past 128
keys, and cost 1.6× the CPU at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load, register

_DASHBOARD_ORACLE = """
    WITH cleaned AS (
        SELECT event_type, value, ts
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT 'global_avg' AS metric, 'all' AS key,
           round(avg(value), 6) AS value FROM cleaned
    UNION ALL
    SELECT 'global_min', 'all', round(min(value), 6) FROM cleaned
    UNION ALL
    SELECT 'global_max', 'all', round(max(value), 6) FROM cleaned
    UNION ALL
    SELECT 'global_stddev', 'all', round(stddev_samp(value), 6) FROM cleaned
    UNION ALL
    SELECT 'type_count', event_type, count(*)::DOUBLE
    FROM cleaned GROUP BY event_type
    UNION ALL
    SELECT 'type_avg', event_type, round(avg(value), 6)
    FROM cleaned GROUP BY event_type
    UNION ALL
    SELECT 'hourly_avg',
           event_type || '|' || strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           round(avg(value), 6)
    FROM cleaned GROUP BY 2, event_type
    UNION ALL
    SELECT 'ts_min_epoch', 'all', floor(epoch(min(ts)))::BIGINT::DOUBLE FROM cleaned
    UNION ALL
    SELECT 'ts_max_epoch', 'all', floor(epoch(max(ts)))::BIGINT::DOUBLE FROM cleaned
    UNION ALL
    SELECT 'type_distinct', 'all', count(DISTINCT event_type)::DOUBLE FROM cleaned
"""


def _metric_rows(*rows: tuple[str, str, str]) -> str:
    """SQL array of (metric, key, value) structs, ``value`` as double."""
    return "array({})".format(", ".join(
        f"named_struct('metric', '{m}', 'key', {k}, 'value', CAST({v} AS DOUBLE))"
        for m, k, v in rows
    ))


#: ``grouping_id()`` sets bit 1 when ``event_type`` is rolled up and bit 0
#: when ``hour`` is: 3 is the global level, 1 per type, 0 per type-hour.
_METRICS = f"""inline(CASE gid
    WHEN 3 THEN {_metric_rows(
        ("global_avg", "'all'", "round(avg_v, 6)"),
        ("global_min", "'all'", "round(min_v, 6)"),
        ("global_max", "'all'", "round(max_v, 6)"),
        ("global_stddev", "'all'", "round(std_v, 6)"),
        ("ts_min_epoch", "'all'", "unix_timestamp(min_ts)"),
        ("ts_max_epoch", "'all'", "unix_timestamp(max_ts)"),
        ("type_distinct", "'all'", "n_types"),
    )}
    WHEN 1 THEN {_metric_rows(
        ("type_count", "event_type", "n"),
        ("type_avg", "event_type", "round(avg_v, 6)"),
    )}
    ELSE {_metric_rows(
        ("hourly_avg", "concat_ws('|', event_type, date_format(hour, 'yyyy-MM-dd HH:mm:ss'))",
         "round(avg_v, 6)"),
    )}
END)"""


def cached_dashboard_metrics(events: DataFrame) -> DataFrame:
    """The six dashboard aggregates (app.py:116-156) from one scan and one
    aggregate, as long-format (metric, key, value) rows.

    The fan-out: global stats (app.py:116-124), per-type frequency table
    (app.py:144-146), per-type mean (app.py:149), per-type hourly series
    (the line charts, app.py:133-141), timestamp bounds (app.py:54-55,156),
    and distinct-type count (app.py:56). The plan is in the module
    docstring.
    """
    return (
        events.selectExpr("event_type", "value", "ts", "date_trunc('hour', ts) AS hour")
        .filter("value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL")
        .rollup("event_type", "hour")
        .agg(
            *map(F.expr, [
                "grouping_id() AS gid",
                "count(1) AS n",
                "avg(value) AS avg_v",
                "min(value) AS min_v",
                "max(value) AS max_v",
                "stddev_samp(value) AS std_v",
                "min(ts) AS min_ts",
                "max(ts) AS max_ts",
                "count(DISTINCT event_type) AS n_types",
            ])
        )
        .selectExpr(_METRICS)
    )


@register("agg_cached_dashboard", _DASHBOARD_ORACLE)
def agg_cached_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard refresh (app.py:87-158) as one query: clean → rollup
    → long-format rows. One source scan per refresh instead of the
    reference's six pandas passes; see the module docstring for the plan."""
    return cached_dashboard_metrics(load(spark, sf_dir, "events"))
