"""Join & set-operation queries (SURVEY.md §2.6-2.7).

The reference's one join is the city→island broadcast lookup
(app.py:25-29,46); the rest generalize it to the standard family. Scale
notes inline: every join states which side broadcasts (or why neither
does) — that choice, not the join syntax, is what survives a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load, register


@register(
    "join_broadcast_dim",
    """
    SELECT c.c_custkey, coalesce(r.r_name, 'OTHER') AS region_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference lookup as a join (app.py:25-29,46): fact left-joins a
    broadcast dim chain with a default. Only nation⋈region broadcasts —
    both are bounded-cardinality at any SF."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left"
    ).select("n_nationkey", F.col("r_name").alias("region_name"))
    return (
        customer.join(F.broadcast(nr), customer.c_nationkey == nr.n_nationkey, "left")
        .select(
            "c_custkey", F.coalesce("region_name", F.lit("OTHER")).alias("region_name")
        )
    )


@register(
    "join_inner_equi",
    """
    SELECT c.c_mktsegment,
           count(*)                          AS n_items,
           round(avg(l.l_extendedprice), 4)  AS avg_price
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join (SURVEY.md §2.6 customer⋈orders⋈lineitem).
    No manual broadcast: all three sides scale together, so shuffle joins
    on the keys (AQE switches strategy / splits skew at runtime)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-as-join (the app.py:110 isin at scale): left semi keeps
    the probe side's columns only and short-circuits on first match —
    no row multiplication, half the shuffle of an inner join + distinct."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion join (customers with no orders)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_outer",
    """
    SELECT coalesce(c.k, s.k)        AS nationkey,
           coalesce(c.n_cust, 0)     AS n_cust,
           coalesce(s.n_supp, 0)     AS n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.k = s.k
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-nation customer vs supplier counts, keys present
    on either side. Pre-aggregating both sides BEFORE the join keeps the
    outer join's shuffle at group-key cardinality, not row cardinality."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "k", "full_outer")
        .select(
            F.col("k").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "setop_union_all",
    """
    SELECT c_custkey AS id, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL via unionByName (bag semantics, no dedup shuffle)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.lit("customer").alias("src")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@register(
    "setop_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — compiles to a left-semi join over
    distinct inputs."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — nations that have negative-balance
    customers but no negative-balance suppliers."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


@register(
    "join_bucketed",
    """
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(avg(o.o_totalprice), 4) AS avg_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: orders and customer both written
    bucketed+sorted by custkey (8 buckets), then equi-joined — the physical
    plan has NO Exchange and NO Sort on either side (asserted in
    tests/test_plans.py). At 100 TB this is THE recurring-join strategy:
    pay one bucketed write, then every subsequent join on that key is
    map-side. Result-identical to the plain shuffle join (the oracle)."""
    import hashlib

    from ..scratch import scratch_dir
    from ..sources.writers import write_bucketed_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_cust = f"mpbda_orders_b_{tag}", f"mpbda_customer_b_{tag}"
    write_bucketed_table(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        t_orders, "o_custkey", 8, scratch_dir(t_orders),
    )
    write_bucketed_table(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_cust, "c_custkey", 8, scratch_dir(t_cust),
    )
    o, c = spark.table(t_orders), spark.table(t_cust)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@register(
    "setop_intersect_all",
    """
    SELECT l_suppkey AS id FROM lineitem WHERE l_quantity < 10
    INTERSECT ALL
    SELECT l_suppkey AS id FROM lineitem WHERE l_quantity > 40
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection — each id kept min(count_left,
    count_right) times, the multiset semantics plain INTERSECT's dedup
    throws away). Catalyst plans it as one partial-count aggregate per
    side + a join on the key — two scans, one shuffle each, no distinct
    pass; the duplicate multiplicities ride the aggregates, never the raw
    rows."""
    li = load(spark, sf_dir, "lineitem")
    lo = li.filter(F.col("l_quantity") < 10).select(F.col("l_suppkey").alias("id"))
    hi = li.filter(F.col("l_quantity") > 40).select(F.col("l_suppkey").alias("id"))
    return lo.intersectAll(hi)


@register(
    "join_null_safe",
    """
    SELECT n.n_name, r.r_name
    FROM (SELECT n_name, nullif(n_regionkey, 2) AS k FROM nation) n
    JOIN (SELECT r_name, nullif(r_regionkey, 2) AS k FROM region) r
      ON n.k IS NOT DISTINCT FROM r.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark `<=>`, ANSI IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of dropping out — the semantics
    dimension merges need when 'unknown' is a real category. Still an
    equi-join to Catalyst (hash on the null-safe key), so it broadcasts /
    shuffles like any other equi join; the scale caveat is that ALL
    null-key rows share one hash bucket — at volume, null-heavy sides get
    the skew treatment (salt or isolate the NULL partition), here the dims
    are tiny."""
    nation = load(spark, sf_dir, "nation").select(
        "n_name", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("k")
    )
    region = load(spark, sf_dir, "region").select(
        "r_name", F.nullif(F.col("r_regionkey"), F.lit(2)).alias("k")
    )
    return nation.join(region, nation.k.eqNullSafe(region.k)).select(
        "n_name", "r_name"
    )


_SALT_N = 8

_SKEW_SALT_ORACLE = """
WITH dim AS (
    SELECT DISTINCT event_type,
           length(event_type)::BIGINT AS type_weight
    FROM events
)
SELECT e.event_type,
       count(*)::BIGINT AS n,
       round(sum(e.value * d.type_weight), 6) AS weighted_sum
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type
"""


@register("join_skew_salt", _SKEW_SALT_ORACLE)
def join_skew_salt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the fact side keys on event_type (5 distinct
    values — at 100 TB each key is a partition-crushing hot spot for a
    shuffle join), so the dim side is EXPLODED 8× with a salt column and
    each fact row picks one salt by a row-local hash. The join key becomes
    (event_type, salt): every hot key spreads over 8 reducers, and the
    post-join aggregate restores exact plain-join semantics — the oracle
    is the UNSALTED join, which is the whole point. Salting is the manual
    fallback when AQE's skew splitter can't apply (e.g. the skewed side
    feeds a co-partitioned downstream op); the salt fan-out costs only
    |dim|×8 rows. The salt hash needs no cross-engine mirror because it
    never reaches the output."""
    ev = load(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.length("event_type").cast("long").alias("type_weight"),
        )
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1)))
    )
    fact = ev.withColumn(
        "salt",
        F.pmod(F.crc32(F.col("event_id").cast("string")), F.lit(_SALT_N)).cast(
            "int"
        ),
    )
    return (
        fact.join(dim_salted, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("type_weight")), 6).alias(
                "weighted_sum"
            ),
        )
    )
