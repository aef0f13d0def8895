"""Aggregation / sort / limit queries (SURVEY.md §2.4-2.5).

Float-aggregate parity notes (SURVEY.md §7 "what's hard" item 1): every
mean/stddev is rounded to a fixed scale on BOTH sides; scales are chosen so
cross-engine summation-order noise (~1e-12 relative) cannot straddle a
rounding boundary at the column's magnitude.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load, register


@register(
    "agg_global_stats",
    """
    SELECT count(*)                      AS n_rows,
           round(avg(value), 6)          AS avg_value,
           round(min(value), 6)          AS min_value,
           round(max(value), 6)          AS max_value,
           round(stddev_samp(value), 6)  AS std_value
    FROM events
    """,
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-aggregate (app.py:116-124): one pass, one row."""
    from ..operators.relational import global_stats

    return global_stats(load(spark, sf_dir, "events"), ["value"])


@register(
    "agg_describe",
    """
    SELECT 'l_quantity' AS column, count(l_quantity) AS n,
           round(avg(l_quantity), 4) AS mean, round(stddev_samp(l_quantity), 4) AS stddev,
           round(min(l_quantity), 4) AS min, round(max(l_quantity), 4) AS max
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount), round(avg(l_discount), 4),
           round(stddev_samp(l_discount), 4), round(min(l_discount), 4),
           round(max(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', count(l_tax), round(avg(l_tax), 4),
           round(stddev_samp(l_tax), 4), round(min(l_tax), 4), round(max(l_tax), 4)
    FROM lineitem
    """,
)
def agg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.describe() analog (analysis.ipynb:cell2:2), long format, exact
    stats, ONE scan for all columns (stack unpivot)."""
    from ..operators.relational import describe_stats

    li = load(spark, sf_dir, "lineitem")
    out = describe_stats(li, ["l_quantity", "l_discount", "l_tax"])
    # 4dp (not 6): stddev merge-order noise at |x|~1e4 can reach ~1e-6.
    return out.selectExpr(
        "column",
        "n",
        *(f"round({c}, 4) AS {c}" for c in ("mean", "stddev", "min", "max")),
    )


@register(
    "agg_value_counts",
    """
    SELECT event_type, count(*) AS "count" FROM events GROUP BY event_type
    """,
)
def agg_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency table (app.py:144-146 value_counts), count-desc ordered."""
    from ..operators.relational import value_counts

    return value_counts(load(spark, sf_dir, "events"), "event_type")


@register(
    "agg_group_avg",
    """
    SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by mean (app.py:149 avg temperature per island)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_min_max",
    """
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events
    """,
)
def agg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column min/max (app.py:54-55 date-picker bounds, app.py:156 last
    update)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@register(
    "agg_distinct_sorted",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
)
def agg_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + sort (app.py:56 sorted unique islands)."""
    ev = load(spark, sf_dir, "events")
    return ev.select("event_type").distinct().orderBy("event_type")


_PIVOT_ORACLE = """
SELECT event_type,
       {cols}
FROM events
GROUP BY event_type
""".format(
    cols=",\n       ".join(
        f"round(avg(CASE WHEN CAST(strftime(ts, '%w') AS INT) = {d} "
        f"THEN value END), 6) AS \"{d}\""
        for d in range(7)
    )
)


@register("agg_pivot", _PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot matrix (app.py:153 pivot_table): event_type × day-of-week →
    mean(value). Explicit pivot_values pin column order AND skip the
    distinct-scan planning job (operators.relational.pivot_matrix note)."""
    from ..operators.relational import pivot_matrix

    ev = load(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek("ts") - 1  # Spark 1=Sunday → 0=Sunday like %w
    )
    return pivot_matrix(
        ev, index="event_type", columns="dow", values="value",
        pivot_values=list(range(7)),
    )


@register("agg_count", "SELECT count(*) AS n_rows FROM lineitem")
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count (analysis.ipynb:cell0:20). Parquet count() answers from
    footer row-counts — no data pages read."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "agg_time_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           round(avg(value), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def agg_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_tumbling_agg (SURVEY.md §2.8): window() tumbling
    aggregation, oracle-checked via date_trunc equivalence."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "avg_value",
            "min_value",
            "max_value",
            "n_events",
        )
    )


@register(
    "sort_order_by",
    """
    SELECT event_id, value FROM events
    ORDER BY value DESC, event_id LIMIT 100
    """,
)
def sort_order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + deterministic tiebreak (app.py:144 count-desc, app.py:56 asc).
    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver, no global sort."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_id", "value")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(100)
    )


@register(
    "limit_head",
    """
    SELECT event_id, event_type, value FROM events ORDER BY event_id LIMIT 5
    """,
)
def limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-N preview (analysis.ipynb:cell0:20 df.head()), made
    deterministic with an explicit order."""
    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", "event_type", "value").orderBy("event_id").limit(5)


@register(
    "agg_hll_distinct",
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB pattern for COUNT
    DISTINCT: per-(type, day) HLL++ sub-sketches (tiny, re-aggregatable)
    union-merged per type, so any time-range distinct count comes from
    sketch unions instead of rescanning raw data. Exact COUNT(DISTINCT)
    needs an Expand + full shuffle of every distinct key; sketches shuffle
    kilobytes. At this SF's cardinalities (≤1.5k per group, lgConfigK=14)
    the sketch is still in exact mode, so the oracle is the exact count —
    the approximation tolerance at real scale is pinned in pytest instead."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    return daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_users")
    )


@register(
    "agg_corr_stats",
    """
    SELECT event_type,
           round(corr(value, user_id), 6) AS corr_vu,
           round(covar_samp(value, user_id), 6) AS covar_vu,
           round(var_samp(value), 6) AS var_value,
           round(stddev_samp(value), 6) AS stddev_value
    FROM events GROUP BY event_type
    """,
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column statistical moments per group: Pearson correlation,
    sample covariance/variance/stddev — single hash-agg pass (all four are
    one-pass co-moment accumulators; Catalyst shares the scan). skewness/
    kurtosis deliberately excluded from the oracle: Spark uses population
    (g1/g2) definitions, DuckDB sample-adjusted (G1/G2) — verified
    mismatched at 6 dp."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", "user_id"), 6).alias("corr_vu"),
        F.round(F.covar_samp("value", "user_id"), 6).alias("covar_vu"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.stddev_samp("value"), 6).alias("stddev_value"),
    )


@register(
    "agg_mode",
    """
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY event_type, user_id
    ), ranked AS (
        SELECT event_type, user_id, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, user_id) AS rk
        FROM counts
    )
    SELECT event_type, user_id AS mode_user, n AS mode_count
    FROM ranked WHERE rk = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic tie-break
    (lowest value wins) — built-in `mode()` has engine-defined tie order in
    BOTH Spark and DuckDB, so the portable form is count → row_number.
    Two shuffles: the count agg and the per-group window; the window input
    is already reduced to distinct (group, value) pairs."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("mode_user"),
            F.col("n").alias("mode_count"),
        )
    )


_GEOMEAN_ORACLE = """
    SELECT event_type,
           round(exp(avg(ln(value))), 6) AS geomean,
           count(*) AS n
    FROM events
    WHERE value > 0
    GROUP BY event_type
"""


@register("agg_udaf_geomean", _GEOMEAN_ORACLE)
def agg_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate as an Arrow-vectorized grouped-agg pandas_udf —
    the UDAF surface (SURVEY §2.10): per-group geometric mean computed in
    numpy (mean-of-logs, overflow-safe). The log-sum is algebraic, so
    Spark still plans map-side partial aggregation of the Arrow batches;
    at 100 TB this shuffles one double per (partition, group), same as a
    built-in avg. The oracle mirrors it as exp(avg(ln x)) — agreement also
    pins that the UDF's numpy accumulation matches SQL double semantics.
    A built-in expression would beat this UDF (engine policy, §2.10); the
    id exists to keep the custom-UDAF path tested for aggregations that
    have no built-in form."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark refuses to mix a grouped-agg pandas UDF with built-in aggregate
    # functions in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the row count
    # rides the same Arrow path.
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(geomean("value"), 6).alias("geomean"),
        n_rows("value").alias("n"),
    )


@register(
    "agg_listagg",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg (new in Spark 4) — ordered string concatenation per group,
    the ANSI WITHIN GROUP form (DuckDB spells it string_agg ... ORDER BY).
    The deterministic ORDER BY inside the aggregate is the point: without
    it distributed concatenation order is partition-dependent and the
    result non-reproducible. Plan: broadcast dim join + one hash-agg whose
    buffer is the collected list — bounded by group fan-in (25 nations),
    the same bound any collect_list carries."""
    for t in ("region", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@register(
    "agg_filter_clause",
    """
    SELECT event_type,
           count(*)                                        AS n_all,
           count(*) FILTER (WHERE value > 50)              AS n_high,
           round(avg(value) FILTER (WHERE value > 50), 6)  AS avg_high,
           count(*) FILTER (WHERE value IS NULL)           AS n_null
    FROM events
    GROUP BY event_type
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI FILTER clause — per-aggregate predicates in one pass (the
    declarative form of conditional aggregation; Catalyst lowers both
    spellings to the same single partial→final hash aggregate, so N
    filtered metrics never mean N scans)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type,
               count(*)                                        AS n_all,
               count(*) FILTER (WHERE value > 50)              AS n_high,
               round(avg(value) FILTER (WHERE value > 50), 6)  AS avg_high,
               count(*) FILTER (WHERE value IS NULL)           AS n_null
        FROM events
        GROUP BY event_type
        """
    )


_BITMAP_ORACLE = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY event_type
"""


@register("agg_bitmap_distinct", _BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts via bitmap aggregation (the Doris/
    ClickHouse bitmap pattern, in Spark since 3.5): ids map to a (bucket,
    bit) address, per-(key, bucket) groups OR their bits into a fixed 4 KB
    bitmap, and the final count is the sum of per-bucket popcounts.

    Why over count(DISTINCT): the bitmap partial is MERGEABLE — the first
    shuffle carries ≤4 KB bitmaps per (key, bucket) instead of every
    distinct id (Spark's distinct-agg expansion), and the same partials
    serve incremental refresh (OR yesterday's bitmap with today's) where
    count(DISTINCT) must rescan. Exact, unlike HLL (agg_hll_user_sketch);
    cost is id-space density — popcount space is bucketed 32 K-bit chunks,
    so sparse 64-bit id spaces want a dictionary-encode first. The oracle
    is the plain distinct count the bitmaps must reproduce exactly."""
    ev = load(spark, sf_dir, "events")
    lvl1 = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        lvl1.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
    )


_HIST_ORACLE = """
WITH b AS (
    SELECT event_type,
           CASE WHEN value IS NULL THEN NULL
                WHEN value < 0 THEN 0
                WHEN value >= 10 THEN 11
                ELSE 1 + floor(value)::BIGINT END AS bucket
    FROM events
)
SELECT event_type, bucket, count(*)::BIGINT AS n
FROM b WHERE bucket IS NOT NULL
GROUP BY event_type, bucket
"""


@register("agg_histogram_equiwidth", _HIST_ORACLE)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event type: ``width_bucket(value, 0, 10,
    10)`` — 10 interior buckets plus the two ANSI overflow buckets (0 and
    n+1) — then one (type, bucket) hash count. The profiling primitive
    behind every dashboard distribution panel, done as pure codegen: the
    bucket id is row-local arithmetic, the aggregate collapses map-side to
    ≤12 rows per type per partition, and the shuffle moves bucket counts,
    never values. The oracle states width_bucket's CASE lowering explicitly
    (both engines implement the same ANSI definition)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.width_bucket("value", F.lit(0.0), F.lit(10.0), F.lit(10)).alias(
                "bucket"
            ),
        )
        .filter(F.col("bucket").isNotNull())
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_BOOLAGG_ORACLE = """
SELECT event_type,
       bool_or(value > 9.5) AS any_high,
       bool_and(value >= 0) AS all_nonneg,
       count_if(value > 5)::BIGINT AS n_above_mid,
       count(*)::BIGINT AS n
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
"""


@register("agg_bool_aggregates", _BOOLAGG_ORACLE)
def agg_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI boolean aggregates — ``any``/``every`` (SQL:2023 adopted; DuckDB
    spells them bool_or/bool_and) plus ``count_if`` — the predicate-summary
    trio dashboards and DQ gates lean on. All three are distributive
    single-bit/counter partials (a boolean OR/AND and a long), so the
    map-side combine collapses each partition to one row per type before
    the only shuffle; semantically they are the CASE-sum lowering stated in
    the oracle, but the dedicated forms keep intent visible to the
    optimizer and the reader."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.expr("any(value > 9.5)").alias("any_high"),
        F.expr("every(value >= 0)").alias("all_nonneg"),
        F.expr("count_if(value > 5)").alias("n_above_mid"),
        F.count(F.lit(1)).alias("n"),
    )


_MODE_ORACLE = """
WITH c AS (
    SELECT event_type, floor(value)::BIGINT AS v, count(*)::BIGINT AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, floor(value)::BIGINT
), r AS (
    SELECT event_type, v, n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY n DESC, v) AS rk
    FROM c
)
SELECT event_type, v AS mode_value, n AS mode_count
FROM r WHERE rk = 1
"""


@register("agg_mode_deterministic", _MODE_ORACLE)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent integer-floored value) per event
    type. Native ``mode()`` picks an ARBITRARY value on ties in both
    engines — useless for a hash-checked pipeline — so the engine spelling
    is the count-then-rank form with an explicit (count DESC, value) tie
    order, which is also what makes the statistic reproducible across
    reruns and engines.

    Scale shape: the value domain collapses first (one (type, v) hash-agg
    with map-side combine — the shuffle carries domain-sized counts, not
    events), then the per-type argmax is a rank-1 filter over tiny grouped
    rows, which Catalyst lowers through WindowGroupLimit (1-row heap per
    partition) exactly like window_topk_per_group."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = ev.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("v"))
    return (
        c.select(
            "event_type",
            F.col("v").alias("mode_value"),
            F.col("n").alias("mode_count"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
