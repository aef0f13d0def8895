"""Behavioral pins for the round-9 curation-depth additions:
per-domain cap, token-budget mix, dup-cluster stats, last-touch
attribution, blocked entity matching. Oracle parity is the driver's /
check_queries' job; these pin the semantics the hash compare can't see
(determinism under repartitioning, plan shape, tie rules, edge rows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_project_big_data_analysis_spark.operators import pipeline


# ---------------------------------------------------------------------------
# cap_per_group
# ---------------------------------------------------------------------------


def _corpus(spark, n=300, n_sources=6):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % n_sources).cast("string")).alias("source"),
        ((F.col("id") * 37) % 500 + 1).alias("n_chars"),
    )


def test_cap_per_group_quota_and_ranking(spark):
    out = pipeline.cap_per_group(
        _corpus(spark), "source", [F.desc("n_chars"), F.asc("doc_id")], 7
    )
    per = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(per.values()) == {7}  # every source capped exactly (50 > 7 each)
    # the kept rows per source are the 7 largest n_chars (ties by doc_id)
    top = (
        _corpus(spark).filter(F.col("source") == "s0")
        .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(7)
        .select("doc_id")
    )
    kept = out.filter(F.col("source") == "s0").select("doc_id")
    assert kept.exceptAll(top).isEmpty() and top.exceptAll(kept).isEmpty()


def test_cap_per_group_group_limit_plan(spark):
    """rank ≤ k must push a group-limit below the shuffle (WindowGroupLimit)
    so map tasks forward O(groups×k) rows — the whole point of the cap."""
    out = pipeline.cap_per_group(
        _corpus(spark), "source", [F.desc("n_chars"), F.asc("doc_id")], 5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_cap_per_group_partition_independent(spark):
    a = pipeline.cap_per_group(
        _corpus(spark), "source", [F.desc("n_chars"), F.asc("doc_id")], 4
    ).select("doc_id", "grp_rank")
    b = pipeline.cap_per_group(
        _corpus(spark).repartition(13), "source", [F.desc("n_chars"), F.asc("doc_id")], 4
    ).select("doc_id", "grp_rank")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ---------------------------------------------------------------------------
# token_budget_mix
# ---------------------------------------------------------------------------


def _token_corpus(spark):
    # source s0: ~tiny token mass; s1/s2 much heavier
    return spark.range(900).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.when(F.col("id") % 3 == 0, 10)
        .when(F.col("id") % 3 == 1, 100)
        .otherwise(40)
        .cast("long")
        .alias("n_tokens"),
    )


def test_token_budget_mix_equalizes_token_mass(spark):
    docs = _token_corpus(spark)
    out = pipeline.token_budget_mix(docs, "source", "n_tokens")
    kept = {
        r["source"]: r["t"]
        for r in out.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    mn = min(totals.values())  # 300 * 10 = 3000 (s0)
    assert kept["s0"] == mn  # the bottleneck source keeps everything
    # the heavy sources are sampled down toward the same token budget
    # (hash draw => binomial noise; ±40% brackets ±5σ here)
    for s in ("s1", "s2"):
        assert 0.6 * mn < kept[s] < 1.4 * mn
        assert kept[s] < totals[s]


def test_token_budget_mix_deterministic_under_repartition(spark):
    docs = _token_corpus(spark)
    a = pipeline.token_budget_mix(docs, "source", "n_tokens").select("doc_id")
    b = pipeline.token_budget_mix(docs.repartition(11), "source", "n_tokens").select(
        "doc_id"
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_token_budget_mix_zero_total_group_kept(spark):
    docs = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 7), (3, "z", 0), (4, "z", 0)],
        "doc_id long, source string, n_tokens long",
    )
    out = pipeline.token_budget_mix(docs, "source", "n_tokens")
    # T=0 group: rate-1 guard keeps all its rows (they cost no budget)
    assert out.filter(F.col("source") == "z").count() == 2


# ---------------------------------------------------------------------------
# ext_dup_cluster_stats
# ---------------------------------------------------------------------------


def test_dup_cluster_stats_planted_classes(spark, tmp_path):
    rows = (
        [(i, "alpha text") for i in range(4)]  # one class of 4
        + [(10 + i, f"unique {i}") for i in range(5)]  # five singletons
        + [(20, None), (21, None)]  # NULLs excluded, never a class
    )
    spark.createDataFrame(
        [(i, t, None, None, None) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from mini_project_big_data_analysis_spark.queries.ext_dedup_q import (
        ext_dup_cluster_stats,
    )

    out = {
        r["class_size"]: (r["n_classes"], r["n_docs"], r["n_redundant"])
        for r in ext_dup_cluster_stats(spark, str(tmp_path)).collect()
    }
    assert out == {4: (1, 4, 3), 1: (5, 5, 0)}


# ---------------------------------------------------------------------------
# ext_attribution_lasttouch
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et, None, None) for i, (ts, uid, et) in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_attribution_rules(spark, tmp_path, monkeypatch):
    # user 1: click 10:00, purchase 10:30  -> attributed, gap 1800
    # user 1: purchase 12:00 (last click 10:00, >1h) -> unattributed
    # user 2: clicks 09:00 & 09:59, purchase 10:00 -> latest click (09:59)
    # user 3: purchase with no click ever -> unattributed
    ev = _events(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "click"),
            ("2024-01-01 10:30:00", 1, "purchase"),
            ("2024-01-01 12:00:00", 1, "purchase"),
            ("2024-01-01 09:00:00", 2, "click"),
            ("2024-01-01 09:59:00", 2, "click"),
            ("2024-01-01 10:00:00", 2, "purchase"),
            ("2024-01-01 08:00:00", 3, "purchase"),
            ("2024-01-01 10:30:00", 9, "view"),  # other types ignored
        ],
    )
    from mini_project_big_data_analysis_spark.queries import ext_product_q

    monkeypatch.setattr(
        ext_product_q, "load", lambda _s, _d, _n: ev, raising=True
    )
    out = {
        r["purchase_id"]: (r["user_id"], r["click_id"], r["gap_s"])
        for r in ext_product_q.ext_attribution_lasttouch(spark, "unused").collect()
    }
    assert out[1] == (1, 0, 1800)
    assert out[2] == (1, None, None)
    assert out[5] == (2, 4, 60)
    assert out[6] == (3, None, None)
    assert set(out) == {1, 2, 5, 6}


def test_attribution_same_instant_click_counts(spark, monkeypatch):
    """A click at the exact purchase instant is credited (kind ordering
    places clicks before purchases in the frame), and among same-instant
    clicks the highest event_id wins."""
    ev = _events(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "click"),  # event_id 0
            ("2024-01-01 10:00:00", 1, "click"),  # event_id 1 (wins)
            ("2024-01-01 10:00:00", 1, "purchase"),  # event_id 2
        ],
    )
    from mini_project_big_data_analysis_spark.queries import ext_product_q

    monkeypatch.setattr(ext_product_q, "load", lambda _s, _d, _n: ev, raising=True)
    rows = ext_product_q.ext_attribution_lasttouch(spark, "unused").collect()
    assert len(rows) == 1
    assert rows[0]["click_id"] == 1 and rows[0]["gap_s"] == 0


# ---------------------------------------------------------------------------
# ext_entity_match
# ---------------------------------------------------------------------------


def test_entity_match_blocking_and_threshold(spark, monkeypatch):
    cust = spark.createDataFrame(
        [
            (1, "Customer#000000001", 5, 0.0, "SEG"),
            (2, "Customer#000000002", 5, 0.0, "SEG"),  # dist 1 from #1
            (3, "Customer#000099999", 5, 0.0, "SEG"),  # dist 5 from #1
            (4, "Customer#000000001", 7, 0.0, "SEG"),  # other nation: blocked
            (5, None, 5, 0.0, "SEG"),  # NULL name excluded
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    from mini_project_big_data_analysis_spark.queries import ext_mining_q

    monkeypatch.setattr(ext_mining_q, "load", lambda _s, _d, _n: cust, raising=True)
    rows = {
        (r["a_id"], r["b_id"]): r["name_dist"]
        for r in ext_mining_q.ext_entity_match(spark, "unused").collect()
    }
    assert rows == {(1, 2): 1}  # canonical order, within block, ≤ 2 only


# ---------------------------------------------------------------------------
# edit_distance_pairs: property-based exactness vs brute force
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab", max_size=7), min_size=2, max_size=24
    )
)
def test_edit_distance_pairs_matches_brute_force(spark, texts):
    """EXACTNESS of the sub-quadratic candidate scheme: over adversarially
    tiny alphabets (maximal key collisions, duplicate classes, empty
    strings, every indel/substitution mix) the operator must emit EXACTLY
    the within-(block, length) pairs at Levenshtein ≤ 2 — a missed
    candidate key family would silently drop pairs, which the sf0.01
    oracle (distinct 18-char names) can't always catch."""
    from mini_project_big_data_analysis_spark.operators.relational import (
        edit_distance_pairs,
    )

    rows = [(i, t, i % 2) for i, t in enumerate(texts)]  # two blocks
    df = spark.createDataFrame(rows, "rid long, s string, blk int")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in edit_distance_pairs(
            df, id_col="rid", text_col="s", block_cols=["blk"]
        ).collect()
    }
    want = {}
    for i, a, ba in rows:
        for j, b, bb in rows:
            if i < j and ba == bb and len(a) == len(b):
                d = _lev(a, b)
                if d <= 2:
                    want[(i, j)] = d
    assert got == want
