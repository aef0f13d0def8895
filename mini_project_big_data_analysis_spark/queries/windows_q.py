"""Event-time windowing beyond tumbling (SURVEY.md §2.8 noted these as free
built-ins): session windows (gap-based) and sliding windows, both batch
queries with exact SQL oracles, plus a salted-join demonstration of the skew
playbook (SURVEY.md §4.4).

Session-window oracle: classic gaps-and-islands — a session breaks when the
gap to the previous event is >= the timeout (session_window extends a
session to last_event + gap, exclusive), islands numbered by a running sum
of breaks. Sliding-window oracle: a duration/slide-window membership is
enumerable (duration/slide shifted tumbling groupings UNION ALL'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from .base import load, register

_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN date_trunc('microseconds', ts)
                   - lag(date_trunc('microseconds', ts))
                     OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id
                        ORDER BY date_trunc('microseconds', ts), event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM ordered
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM islands
GROUP BY user_id, sess
"""


@register("agg_session_window", _SESSION_ORACLE)
def agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap —
    ``session_window`` merges events whose gap is < the timeout; one shuffle
    on (user, session). The dashboard's 'visit' analytics at scale."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "avg_value")
    )


_SLIDING_ORACLE = """
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM (
  SELECT date_trunc('hour', ts) AS w, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w, value FROM events
)
GROUP BY w
"""


@register("agg_sliding_window", _SLIDING_ORACLE)
def agg_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour: every event lands in (duration /
    slide) = 2 windows. The oracle enumerates the same membership as two
    shifted tumbling groupings.

    The Spark window() generator is the plan to beat: it expands each row
    ×2 THEN aggregates — same row multiplication the UNION ALL oracle does,
    but fused into one Expand node (no second scan)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # order-exact aggregates only: the UNION-ALL oracle sums in a
            # different order and this data's window-avgs sit exactly on
            # rounding boundaries (1-ulp flips observed at 6dp AND 4dp);
            # avg parity for windows is already pinned by agg_time_window.
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "min_value",
            "max_value",
        )
    )


@register(
    "join_salted_skew",
    """
    SELECT n.n_name,
           count(*) AS n_rows,
           round(avg(c.c_acctbal), 4) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: the fact side's hot keys are spread over
    ``salt`` sub-keys (deterministic hash of the row), the dim side is
    replicated ×salt — so a single pathological key occupies ``salt``
    reducers instead of one. Result-identical to the plain join (the oracle
    proves it); AQE's skew splitting is the automatic fallback, salting is
    the explicit control."""
    from ..operators.relational import salted_equi_join

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = salted_equi_join(c, n, "c_nationkey", "n_nationkey", salt=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
    )


@register(
    "src_csv_roundtrip",
    "SELECT r_regionkey, r_name FROM region",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd CSV source (source-format breadth: parquet/JSON/
    CSV all covered). Explicit schema on read — no inference job."""
    region = load(spark, sf_dir, "region")
    path = scratch_dir("csv")
    region.write.mode("overwrite").option("header", "true").csv(path)
    return spark.read.schema(region.schema).option("header", "true").csv(path)


@register(
    "window_ntile",
    """
    SELECT event_id, event_type,
           ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
               AS quartile
    FROM events WHERE value IS NOT NULL
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quartile bucketing (curriculum binning / outlier tiers).
    ntile is deterministic given a total order — event_id tiebreak makes
    both engines agree exactly. One shuffle on the partition key."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "window_cume_dist",
    """
    SELECT event_id, event_type,
           round(cume_dist() OVER
                 (PARTITION BY event_type ORDER BY value), 6) AS cume_d,
           round(percent_rank() OVER
                 (PARTITION BY event_type ORDER BY value), 6) AS pct_rank
    FROM events WHERE value IS NOT NULL
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group empirical CDF position + percent rank (quality-score
    percentiles for filtering thresholds — 'keep the top 30% per language'
    style gates). Rank functions depend only on the ORDER BY key values, so
    value ties get identical ranks in both engines with no tiebreak column
    needed. One shuffle on the partition key, same window frame for both
    functions — Spark evaluates them in a single Window operator."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           round(avg(value) OVER (
               PARTITION BY user_id
               ORDER BY floor(epoch(ts))::BIGINT
               RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW), 6)
               AS avg_30min
    FROM events WHERE value IS NOT NULL
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based (RANGE) window frame: per-user trailing-30-minute mean —
    the VALUE-bounded frame family (window_rolling_avg covers the
    ROWS-count-bounded one). RANGE frames depend only on the ordering key's
    values, so irregular event spacing and ordering ties are handled
    identically in both engines with no tiebreak column. One shuffle on
    user_id; frame evaluation is a single sorted pass per partition."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-1800, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg_30min"),
    )


_GAP_ISLANDS_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 86400
                THEN 1 ELSE 0 END AS new_island
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts, event_id,
           sum(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island_id
    FROM flagged
)
SELECT user_id,
       island_id::BIGINT AS island_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS island_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS island_end,
       count(*)::BIGINT  AS n_events
FROM numbered
GROUP BY user_id, island_id
"""


@register("window_gap_islands", _GAP_ISLANDS_ORACLE)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: consecutive per-user events no more
    than 24 hours apart form one island; a larger gap starts the next.
    The cumulative-sum-of-gap-flags formulation — the relational classic
    behind sessionization, uptime/downtime intervals and contiguous-range
    compaction. agg_session_window gets the same grouping from
    session_window(); this id pins the portable window-function route and
    exposes the island ids/bounds (which session_window does not).

    Both windows and the final agg share the user_id partitioning, so
    Catalyst plans ONE exchange for the whole query (asserted in
    tests/test_plans.py)."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_island",
        F.when(F.lag("ts").over(w).isNull() | (gap_s > 86400), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "island_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("island_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", F.col("island_id").cast("long").alias("island_id"),
             "island_start", "island_end", "n_events")


@register(
    "window_running_distinct",
    """
    SELECT event_id,
           event_type,
           count(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS n_users_so_far
    FROM events
    WHERE ts IS NOT NULL
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event type — Spark has no
    count(DISTINCT) over a window, so the SCALABLE formulation is the
    first-seen trick: flag each (type, user)'s first row via row_number,
    then running-sum the flags. State per window is one counter, not the
    distinct set (the collect_set-over-window spelling holds the whole set
    per row and dies at volume). DuckDB's NATIVE distinct-window aggregate
    is the oracle — two genuinely independent implementations must agree
    row-for-row."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    first_seen = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    running = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_flag",
            F.when(F.row_number().over(first_seen) == 1, 1).otherwise(0),
        )
        .withColumn("n_users_so_far", F.sum("first_flag").over(running))
        .select("event_id", "event_type", "n_users_so_far")
    )


_TOPK_ORACLE = """
WITH r AS (
    SELECT event_id, event_type, value,
           rank() OVER (PARTITION BY event_type
                        ORDER BY value DESC, event_id) AS rnk
    FROM events WHERE value IS NOT NULL
)
SELECT event_id, event_type, value, rnk
FROM r WHERE rnk <= 3
"""


@register("window_topk_per_group", _TOPK_ORACLE)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event type — the canonical rank-filter
    window (deterministic via the event_id tie-break).

    Scale note: since 3.5 Catalyst rewrites rank()≤k into WindowGroupLimit,
    which keeps a k-row heap PER MAP PARTITION before the shuffle — the
    exchange carries at most k rows per (partition, key) instead of the
    whole table, the same partial-top-k trick TakeOrderedAndProject does
    globally. That optimization is exactly why the rank-filter spelling is
    preferred over groupBy(collect_list + slice) at 100 TB; the plan pin
    lives in tests/test_timeseries_round6.py."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.select("event_id", "event_type", "value", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


_ROLLCORR_FRAME = 24

_ROLLCORR_ORACLE = f"""
WITH lagged AS (
    SELECT event_type, event_id, ts, value,
           lag(value) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS prev
    FROM events
)
SELECT event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(covar_samp(value, prev) OVER w
             / nullif(stddev_samp(value) OVER w * stddev_samp(prev) OVER w, 0),
             6) AS roll_corr
FROM lagged
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN {_ROLLCORR_FRAME - 1} PRECEDING AND CURRENT ROW)
QUALIFY count(prev) OVER w = {_ROLLCORR_FRAME}
"""


@register("window_rolling_corr", _ROLLCORR_ORACLE)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-observation correlation between each series and its own
    previous value — the windowed co-moment statistic behind rolling-beta
    and regime-change panels, and the demonstration that ANY aggregate
    (here ``corr``) runs as a window function over a bounded ROWS frame.

    Scale shape: one window shuffle on event_type serves BOTH the lag and
    the rolling corr (same partitioning + ordering, Catalyst fuses them
    into consecutive Window operators without re-exchange); the frame is
    ROWS-bounded so state is 24 pairs regardless of series length. Rows
    without a full 24-pair frame are dropped on both sides (count(prev)
    guard — DuckDB spells it QUALIFY, Spark as a post-filter), which also
    pins the boundary semantics the engines could otherwise disagree on.
    The ratio is spelled covar/(σx·σy) with an explicit zero-variance
    guard rather than native ``corr``: ANSI mode turns corr's internal
    division into a hard DIVIDE_BY_ZERO on constant frames (hit on the
    dup-heavy sf1 profile), while the guarded spelling yields NULL —
    DuckDB corr's semantics — on both engines."""
    ev = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_frame = w_ord.rowsBetween(-(_ROLLCORR_FRAME - 1), Window.currentRow)
    lagged = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.lag("value").over(w_ord).alias("prev"),
    )
    den = (
        F.stddev_samp("value").over(w_frame)
        * F.stddev_samp("prev").over(w_frame)
    )
    return (
        lagged.select(
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.round(
                F.covar_samp("value", "prev").over(w_frame)
                / F.nullif(den, F.lit(0.0)),
                6,
            ).alias("roll_corr"),
            F.count("prev").over(w_frame).alias("n_frame"),
        )
        .filter(F.col("n_frame") == _ROLLCORR_FRAME)
        .drop("n_frame")
    )


_NTH_ORACLE = """
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       min(event_type) FILTER (WHERE rn = 3) AS third_event,
       count(*)::BIGINT AS n_events
FROM (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
)
GROUP BY user_id
"""


@register("window_nth_value", _NTH_ORACLE)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window extraction: each user's THIRD event (the
    onboarding-analytics 'what do users do after signup+first click'
    probe) alongside first-event time and totals. Spelled as row_number +
    conditional aggregation rather than ``nth_value`` because nth_value's
    default frame (unbounded-preceding → current row) yields NULL until
    row n and needs an explicit full frame — the row_number spelling is
    frame-proof and identical in both engines. One user_id window shuffle;
    the aggregate reuses the same partitioning."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = ev.select(
        "user_id", "ts", "event_type", F.row_number().over(w).alias("rn")
    )
    return rn.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.min(F.when(F.col("rn") == 3, F.col("event_type"))).alias(
            "third_event"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
