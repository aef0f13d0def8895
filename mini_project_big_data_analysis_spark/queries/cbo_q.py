"""Cost-based-optimizer statistics queries (SURVEY.md §2 — CBO/ANALYZE).

Closes the loop the round-14 estimate audit plane opened: on raw parquet
scans Catalyst has NO rowCount and a Filter inherits its child's
sizeInBytes (scripts/audit_estimates.py measured join-output estimates
10-15 orders of magnitude off actuals), so every static join choice is
blind until AQE repairs it at runtime. ``ANALYZE TABLE ... COMPUTE
STATISTICS FOR ALL COLUMNS`` writes table + column stats into the catalog
and ``spark.sql.cbo.enabled`` folds them through filters/joins, giving the
STATIC planner the selectivity AQE only discovers after a shuffle — at
100 TB that is the difference between planning the right join strategy
before reading a byte and paying one wasted shuffle stage to learn it.

Reference parity: the reference has no optimizer at all (pandas evaluates
eagerly, app.py:87-158 recomputes from a full collection rescan); this
module is north-star engine surface, not a port.
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from .base import register

#: Session confs the CBO path touches; every fn restores them (contains()
#: discipline — never pin a resolved default on the shared session).
_CBO_KEYS = (
    "spark.sql.cbo.enabled",
    "spark.sql.cbo.planStats.enabled",
    "spark.sql.cbo.joinReorder.enabled",
)

#: RuntimeConfig is session-scoped, so two concurrent callers interleaving
#: set→restore on the SAME session could each restore the other's
#: intermediate state (leaving cbo pinned on — harmless for results, but a
#: leave-as-found violation). The mutate→plan→restore window is short
#: (logical planning only; execution happens at the caller's action, after
#: release), so a process-level lock serializes it cheaply.
_CBO_CONF_LOCK = threading.Lock()

#: Serializes the CREATE→has-stats→ANALYZE window in ensure_stats_tables:
#: without it two first-time concurrent callers can both miss the
#: Statistics probe and ANALYZE the same table twice, or one can plan
#: against partially-written column stats (ADVICE r15). Separate from
#: _CBO_CONF_LOCK — catalog writes and session-conf mutation are
#: independent critical sections and coupling them would serialize
#: planning behind ANALYZE.
_STATS_LOCK = threading.Lock()


def conf_is_set(spark: SparkSession, key: str) -> bool:
    """True iff ``key`` is explicitly set on the session (vs merely
    resolvable to a default) — the probe the save/restore discipline
    needs so restore can ``unset`` rather than pin a resolved default.

    Classic PySpark exposes this only through the private
    ``RuntimeConfig._jconf.contains``; this is the ONE place that private
    attribute is touched (tests and queries all route here), so a Spark
    Connect port or a RuntimeConfig refactor is a one-line fix. The
    fallback — ``get(key, None) is not None`` — is weaker (a key with a
    server-side default reads as set), but only runs where ``_jconf`` is
    absent.
    """
    jconf = getattr(spark.conf, "_jconf", None)
    if jconf is not None:
        return bool(jconf.contains(key))
    return spark.conf.get(key, None) is not None


def snapshot_confs(spark: SparkSession, keys: tuple[str, ...]) -> dict:
    """{key: current value, or None if not explicitly set} for restore_confs."""
    return {k: (spark.conf.get(k) if conf_is_set(spark, k) else None) for k in keys}


def restore_confs(spark: SparkSession, saved: dict) -> None:
    """Inverse of snapshot_confs: unset what was unset, reset what was set."""
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def ensure_stats_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...]
) -> dict[str, str]:
    """External catalog tables over the sf_dir parquet files, ANALYZEd.

    The parquet fixtures are read-only, so the tables are pure metadata
    (``USING parquet LOCATION``) — CREATE is a catalog write, never a data
    copy, exactly how a 100 TB lakehouse table would be registered. Table
    names carry an sf_dir hash: the in-memory catalog is shared across
    ``newSession()`` children (SharedState), so an unqualified name would
    be last-writer-wins across datasets — the same hazard the temp-view
    contract documents. ANALYZE runs once per (table, catalog lifetime):
    the fixtures are immutable and the table name is content-addressed by
    sf_dir, so stats can never go stale — which is the production shape
    too: statistics are table maintenance amortized over every query, not
    a per-query tax.

    Column stats are computed for every column EXCEPT ``timestamp_ntz``
    ones: Spark 4.1's FilterEstimation hits ``scala.MatchError:
    TimestampNTZType`` when CBO folds a predicate through an NTZ column
    that carries stats (measured on sql_tpch_q5's o_orderdate range — the
    raw ANSI date literals in this repo's fixtures all read back as NTZ).
    Excluding them keeps table-level stats + every other column's stats;
    NTZ predicates simply estimate at default selectivity instead of
    crashing the optimizer.

    Returns {logical name: catalog table name}.
    """
    # a relative sf_dir (the sf1/sf3 fixtures live in the repo root) would
    # otherwise resolve the LOCATION against spark-warehouse/
    sf_dir = os.path.abspath(sf_dir)
    # v2: the NTZ-exclusion policy is part of the content address — a table
    # ANALYZEd under the old FOR ALL COLUMNS policy must not be reused
    tag = hashlib.md5(f"{sf_dir.rstrip('/')}#v2".encode()).hexdigest()[:8]
    out: dict[str, str] = {}
    with _STATS_LOCK:
        for name in names:
            table = f"cbo_{name}_{tag}"
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {table} USING parquet "
                f"LOCATION '{sf_dir}/{name}.parquet'"
            )
            # CREATE records no Statistics row; its presence ⇔ our ANALYZE ran
            has_stats = (
                spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
                .filter("col_name = 'Statistics'")
                .count()
                > 0
            )
            if not has_stats:
                cols = [
                    f.name
                    for f in spark.table(table).schema.fields
                    if f.dataType.simpleString() != "timestamp_ntz"
                ]
                spark.sql(
                    f"ANALYZE TABLE {table} COMPUTE STATISTICS "
                    f"FOR COLUMNS {', '.join(cols)}"
                )
            out[name] = table
    return out


@register(
    "sql_cbo_broadcast",
    """
    SELECT l_orderkey, round(sum(l_quantity), 4) AS qty_sum,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    GROUP BY l_orderkey
    """,
)
def sql_cbo_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-driven join planning: the urgent/high-value orders slice
    joined to lineitem, planned over ANALYZEd catalog tables with CBO on.

    Without column stats the filtered orders side keeps the full table's
    sizeInBytes and the static planner must assume the worst (the audit
    plane's measured multi-order-of-magnitude join estimate gap); with
    FOR ALL COLUMNS stats + ``spark.sql.cbo.enabled`` the filter's
    selectivity shrinks the estimate so the broadcast decision is made
    correctly BEFORE execution — tests/test_plans.py pins the actual
    SMJ→BroadcastHashJoin flip (AQE off, fixed threshold, stats vs none)
    and that the optimized plan carries a CBO rowCount. The session confs
    are snapshot/restored (contains() discipline), so the shared session
    leaves this fn exactly as it entered.
    """
    tables = ensure_stats_tables(spark, sf_dir, ("lineitem", "orders"))
    with _CBO_CONF_LOCK:
        saved = snapshot_confs(spark, _CBO_KEYS)
        try:
            for k in _CBO_KEYS:
                spark.conf.set(k, "true")
            df = spark.sql(
                f"""
                SELECT l_orderkey, round(sum(l_quantity), 4) AS qty_sum,
                       count(*) AS n_lines
                FROM {tables["lineitem"]}
                JOIN {tables["orders"]} ON l_orderkey = o_orderkey
                WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
                GROUP BY l_orderkey
                """
            )
            # Materialize analysis+optimization AND the stats cache NOW,
            # while CBO is on: a lazy DataFrame freezes its optimized plan
            # at first queryExecution access, and stats() picks its
            # estimation visitor (row-count CBO vs size-only) from the conf
            # active at FIRST stats() call — both would otherwise resolve
            # after the finally below restores the session confs.
            df._jdf.queryExecution().optimizedPlan().stats()
            return df
        finally:
            restore_confs(spark, saved)


# ---------------------------------------------------------------------------
# TPC-H family plan-diff surface (round 16): the SAME SQL text planned twice
# — over raw parquet temp views (no stats, CBO off: what a fresh lakehouse
# session sees) and over ANALYZEd catalog tables (CBO + join reorder on:
# what a maintained one sees) — with AQE off so the diff isolates what the
# STATIC planner decides before a single byte is shuffled. At 100 TB the
# static choice is the one that matters: AQE can only repair a join
# strategy after paying the mis-planned stage.

#: qid -> (module attr holding the SQL text, module name, referenced tables)
_TPCH_CBO_CASES: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "sql_tpch_q5": (
        "_Q5", "sql_q",
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    ),
    "sql_tpch_q8": (
        "_Q8", "sql_q2",
        ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    ),
    "sql_tpch_q9": (
        "_Q9", "sql_q2",
        ("part", "lineitem", "supplier", "orders", "nation"),
    ),
    "sql_tpch_q17": ("_Q17", "sql_q2", ("lineitem", "part")),
    "sql_tpch_q18": ("_Q18", "sql_q", ("customer", "orders", "lineitem")),
}


def tpch_cbo_case(qid: str) -> tuple[str, tuple[str, ...]]:
    """(sql_text, tables) for a TPC-H id in the CBO plan-diff set."""
    attr, mod_name, tables = _TPCH_CBO_CASES[qid]
    from . import sql_q, sql_q2  # local: avoid import cycle via queries/__init__

    mod = {"sql_q": sql_q, "sql_q2": sql_q2}[mod_name]
    return getattr(mod, attr), tables


#: Confs the static-plan probe pins (beyond _CBO_KEYS): AQE off so the
#: physical plan is the static one; broadcast threshold at the stock 10 MB
#: so the diff reflects estimates, not an environment override.
_STATIC_PLAN_KEYS = _CBO_KEYS + (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
)


def tpch_static_plan(
    spark: SparkSession, qid: str, sf_dir: str, use_stats: bool
) -> str:
    """The static physical plan (toString) for a TPC-H id, planned blind
    (raw parquet views, CBO off) or informed (ANALYZEd catalog tables via
    same-named temp views, CBO + planStats + joinReorder on).

    Registers temp views under the base table names so the registered SQL
    text runs unchanged — run on ``spark.newSession()`` unless the caller
    owns the session's temp-view namespace. Session confs are
    snapshot/restored under _CBO_CONF_LOCK.
    """
    from .base import load  # local: base imports nothing from here

    sql_text, tables = tpch_cbo_case(qid)
    if use_stats:
        cat = ensure_stats_tables(spark, sf_dir, tables)
        for t in tables:
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM {cat[t]}")
    else:
        for t in tables:
            load(spark, sf_dir, t).createOrReplaceTempView(t)
    with _CBO_CONF_LOCK:
        saved = snapshot_confs(spark, _STATIC_PLAN_KEYS)
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            flag = "true" if use_stats else "false"
            for k in _CBO_KEYS:
                spark.conf.set(k, flag)
            df = spark.sql(sql_text)
            # materialize the plan inside the conf window (same staleness
            # rule sql_cbo_broadcast documents)
            return df._jdf.queryExecution().executedPlan().toString()
        finally:
            restore_confs(spark, saved)


def join_signature(plan_str: str) -> list[str]:
    """Ordered ``kind:joinType:buildSide`` per join node in a physical-plan
    string — the compact shape the audit diffs and the tests pin."""
    import re

    out: list[str] = []
    kinds = (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    for line in plan_str.splitlines():
        for kind in kinds:
            if kind in line:
                side = (
                    "BuildLeft"
                    if "BuildLeft" in line
                    else ("BuildRight" if "BuildRight" in line else "-")
                )
                m = re.search(
                    r"\b(Inner|LeftSemi|LeftAnti|LeftOuter|RightOuter|"
                    r"FullOuter|Cross|ExistenceJoin)\b",
                    line,
                )
                out.append(f"{kind}:{m.group(1) if m else '?'}:{side}")
                break
    return out
