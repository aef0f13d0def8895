"""Physical-plan assertions (plans/checks.py): pushdown, broadcast shape,
column pruning — the 100 TB properties, asserted rather than hoped."""

from __future__ import annotations

import pyspark.sql.functions as F

from mini_project_big_data_analysis_spark.plans import checks
from mini_project_big_data_analysis_spark.queries.cbo_q import conf_is_set
from mini_project_big_data_analysis_spark.queries.flagship import flagship
from mini_project_big_data_analysis_spark.sources.events import load_events


def test_events_ts_range_pushes_down(spark, sf_dir):
    ev = load_events(spark, sf_dir, ts_between=("2024-01-05 00:00:00", "2024-01-06 00:00:00"))
    # the raw INT64 ns predicate must reach the parquet scan
    checks.assert_pushed_filters(ev, "GreaterThanOrEqual(ts", "LessThanOrEqual(ts")


def test_flagship_plan_shape(spark, sf_dir):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = flagship(spark, sf_dir)
        plan = checks.explain_str(df)
        # tiny dims broadcast…
        assert "BroadcastHashJoin" in plan
        # …but never a customer-grain build side: the events⋈dim join is a
        # shuffle join in the static plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # ts range pushed to scan
        checks.assert_pushed_filters(df, "GreaterThanOrEqual(ts", "LessThanOrEqual(ts")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_metadata_query_prunes_payload_column(spark, sf_dir):
    from mini_project_big_data_analysis_spark.operators.multimodal import (
        attach_binary_payload,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = attach_binary_payload(docs)
    meta_only = media.select("doc_id", F.col("media_meta.width"))
    schema = checks.scan_read_schema(meta_only, "documents")
    # the payload source column (text) must not be read for a metadata query
    assert "text" not in schema
    assert "doc_id" in schema


def test_scan_prunes_columns(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    schema = checks.scan_read_schema(li, "lineitem")
    assert "l_orderkey" in schema and "l_extendedprice" not in schema


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Both sides bucketed+sorted by the join key → the equi-join plan has
    no Exchange and no Sort (the co-located-join property that matters at
    100 TB; SURVEY.md §4.4)."""
    from mini_project_big_data_analysis_spark.queries.joins_q import join_bucketed

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # at sf0.01 the dim is broadcast-sized and Spark rightly prefers that;
    # disabling broadcast simulates the both-sides-large case bucketing is for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = join_bucketed(spark, sf_dir)
        tree = checks.explain_str(df, "simple").splitlines()
        join_at = [i for i, ln in enumerate(tree) if "MergeJoin" in ln or "ShuffledHashJoin" in ln]
        assert join_at, "\n".join(tree)
        # children of the join are below it in the tree: no Exchange feeds it
        below = "\n".join(tree[join_at[0]:])
        assert "Exchange" not in below, "\n".join(tree)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_write_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column resolves to PartitionFilters (pruned
    at planning, before any file I/O) — not a row-level data filter."""
    from mini_project_big_data_analysis_spark.sources.writers import write_partitioned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # raw read: ts is INT64 ns → keep as long; partition col derived from id
    ev = ev.withColumn("bucket", (F.col("event_id") % 4).cast("int"))
    path = str(tmp_path / "part_events")
    write_partitioned(ev, path, ["bucket"])
    back = spark.read.parquet(path).filter(F.col("bucket") == 2)
    plan = checks.explain_str(back)
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "bucket" in pf_line, plan


def test_pipeline_assignment_ops_are_map_only(spark, sf_dir):
    """split/sample/mix must stay row-local: zero Exchange in the plan —
    at 100 TB these are single map-only passes over the scan."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        reg = all_queries()
        for qid in ("ext_split_hash", "ext_sample_stratified", "ext_dataset_mix"):
            plan = checks.explain_str(reg[qid].fn(spark, sf_dir))
            assert "Exchange" not in plan, f"{qid} plan shuffles:\n{plan[:600]}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_token_pack_single_shuffle_on_shard(spark, sf_dir):
    from mini_project_big_data_analysis_spark.queries import all_queries

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(
            all_queries()["ext_token_pack"].fn(spark, sf_dir), mode="simple"
        )
        assert plan.count("Exchange") == 1
        assert "hashpartitioning(shard" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_dpp_injects_runtime_partition_filter(spark, sf_dir, tmp_path):
    """The fact scan must carry a dynamicpruningexpression: the weekend
    predicate lives only on the dim side, so pruning can happen at runtime
    or not at all."""
    from mini_project_big_data_analysis_spark.sources.writers import write_partitioned

    ev = load_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    path = str(tmp_path / "dpp_fact")
    write_partitioned(ev.select("event_date", "value"), path, ["event_date"])
    fact = spark.read.parquet(path)
    dim = (
        ev.select("event_date").distinct().filter(F.dayofweek("event_date").isin(1, 7))
    )
    joined = fact.join(F.broadcast(dim), "event_date").groupBy("event_date").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_stream_static_enrich_broadcasts_dim(spark, sf_dir):
    """The static dim side must broadcast into each micro-batch — a
    shuffled stream-static join would re-shuffle every batch."""
    from mini_project_big_data_analysis_spark.streaming.pipeline import (
        run_stream_static_enrich,
    )

    out = run_stream_static_enrich(spark, sf_dir)
    assert out.count() > 0
    # the executed streaming plan is gone once the query stops; assert on
    # the equivalent batch graph, which plans the same join
    from mini_project_big_data_analysis_spark.sources.readers import read_table

    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).select("user_id", "n_name")
    ev = load_events(spark, sf_dir)
    plan = (
        ev.join(F.broadcast(dim), "user_id", "left")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_predicates_push_to_scan(spark, sf_dir):
    """All four Q6 range predicates must reach the lineitem scan as
    PushedFilters — the whole point of a scan-filter-agg query."""
    from mini_project_big_data_analysis_spark.queries.sql_q import sql_tpch_q6

    df = sql_tpch_q6(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in plan.split("PushedFilters", 1)[1][:500], frag


def test_tpch_q3_uses_top_k_not_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject: only k rows
    per partition reach the driver-side merge, never a global sort."""
    from mini_project_big_data_analysis_spark.queries.sql_q import sql_tpch_q3

    df = sql_tpch_q3(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective filter on one join
    side injects a bloom_filter_might_contain predicate into the OTHER
    side's scan — the big side is semi-join-reduced before it shuffles. At
    100 TB this is the difference between shuffling all of lineitem and
    shuffling only rows whose key can match. Local fixtures sit under the
    production size thresholds, so the test lowers them to prove the
    rewrite fires (the shipped config keeps Spark's defaults)."""
    from mini_project_big_data_analysis_spark.sources.readers import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:1500]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q21_semi_anti_joins_never_degenerate(spark, sf_dir):
    """TPC-H Q21's correlated EXISTS / NOT EXISTS must compile to equi-keyed
    LeftSemi / LeftAnti hash-family joins on l_orderkey — never a cartesian
    product or an un-keyed nested-loop join (which would be O(n²) shuffle at
    100 TB)."""
    from mini_project_big_data_analysis_spark.queries.sql_q import sql_tpch_q21

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = sql_tpch_q21(spark, sf_dir)
        plan = checks.explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q19_or_of_ands_legs_push_to_both_scans(spark, sf_dir):
    """TPC-H Q19's disjunction must be factored so each table-local leg
    reaches its own scan: the quantity envelope on lineitem and the
    brand/size envelope on part. Without CNF factoring the whole OR rides
    the join and both tables scan in full — the 100 TB failure mode."""
    from mini_project_big_data_analysis_spark.queries.sql_q2 import sql_tpch_q19

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = sql_tpch_q19(spark, sf_dir)
        plan = checks.explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the OR of brand legs is table-local to part and must appear as a
        # scan-level pushed filter set (Or(EqualTo(p_brand...)))
        pushed = "\n".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
        assert "p_brand" in pushed
        assert "l_quantity" in pushed
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q2_q17_correlated_subqueries_decorrelate(spark, sf_dir):
    """The correlated scalar subqueries in Q2 (min cost per part) and Q17
    (avg quantity per part) must de-correlate into aggregate-then-join on
    the correlation key — a per-row re-execution (nested-loop shape) would
    be O(n·m) at scale."""
    from mini_project_big_data_analysis_spark.queries.sql_q2 import (
        sql_tpch_q2,
        sql_tpch_q17,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for q in (sql_tpch_q2, sql_tpch_q17):
            plan = checks.explain_str(q(spark, sf_dir))
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q20_nested_ins_compile_to_semi_joins(spark, sf_dir):
    """Q20's IN-inside-IN chain must compile to LeftSemi hash joins end to
    end; neither IN may expand into a distinct+inner-join (row explosion)
    or a nested loop."""
    from mini_project_big_data_analysis_spark.queries.sql_q2 import sql_tpch_q20

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(sql_tpch_q20(spark, sf_dir))
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def _n_exchanges(plan: str) -> int:
    return sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln and "Reused" not in ln
    )


def test_doc_chunk_has_no_shuffle(spark, sf_dir):
    """RAG chunking is pure narrow ops — the whole plan must pipeline into
    the scan with zero Exchange (at 100 TB an accidental shuffle here would
    move the entire exploded chunk stream)."""
    from mini_project_big_data_analysis_spark.queries.ext_corpus_q import ext_doc_chunk

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_doc_chunk(spark, sf_dir))
        assert _n_exchanges(plan) == 0, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scd2_lag_and_lead_share_one_exchange(spark, sf_dir):
    """Both window passes partition by user_id → Catalyst must plan ONE
    exchange (two in-partition sorts), not one per window."""
    from mini_project_big_data_analysis_spark.queries.ext_corpus_q import ext_scd2_dim

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_scd2_dim(spark, sf_dir))
        assert _n_exchanges(plan) == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_unigram_logprob_broadcasts_corpus_total(spark, sf_dir):
    """The 1-row corpus total must join as a broadcast, never shuffle the
    exploded token stream against it."""
    from mini_project_big_data_analysis_spark.queries.ext_corpus_q import (
        ext_unigram_logprob,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_unigram_logprob(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_paragraph_dedup_two_shuffles(spark, sf_dir):
    """Block dedup = one shuffle keyed on block hash (the window) + one
    keyed on doc_id (the reassembly agg). Anything more means the plan
    re-shuffles the exploded block stream."""
    from mini_project_big_data_analysis_spark.queries.ext_corpus_q import (
        ext_paragraph_dedup,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_paragraph_dedup(spark, sf_dir))
        assert _n_exchanges(plan) == 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_gap_islands_single_exchange(spark, sf_dir):
    """lag, cumulative sum and the island agg all key on user_id → one
    exchange for the whole sessionization query."""
    from mini_project_big_data_analysis_spark.queries.windows_q import (
        window_gap_islands,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(window_gap_islands(spark, sf_dir))
        assert _n_exchanges(plan) == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pmi_total_broadcasts_and_single_corpus_read_shape(spark, sf_dir):
    """The PMI grand total must join as a broadcast (1-row literal), and the
    marginal joins must be equi joins over the COLLAPSED bigram table —
    never a nested-loop anything."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    df = all_queries()["ext_pmi_collocations"].fn(spark, sf_dir)
    plan = checks.explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the only nested-loop join allowed is the 1-row total broadcast; the
    # two marginal joins must be equi joins
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + (
        plan.count("BroadcastHashJoin")
    ) >= 2


def test_pagerank_iteration_joins_are_equi(spark, sf_dir):
    from mini_project_big_data_analysis_spark.queries import all_queries

    df = all_queries()["ext_link_pagerank"].fn(spark, sf_dir)
    plan = checks.explain_str(df)
    # rank⋈edge joins across 3 iterations: all hash/sort-merge equi joins;
    # the doc-count scalar rides broadcast nested loop (1 row) only
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_token_regex_count_is_shuffle_free(spark, sf_dir):
    """The per-doc token budget is a pure scan-stage projection: any
    Exchange means the plan regressed to something non-embarrassingly
    parallel."""
    from mini_project_big_data_analysis_spark.queries.ext_audit_q import (
        ext_token_regex_count,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_token_regex_count(spark, sf_dir))
        assert _n_exchanges(plan) == 0, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_phash_dedup_shuffles_digests_not_payloads(spark, sf_dir):
    """One hash-agg exchange, and the bytes on the wire are the 16-char
    digest + length — the payload column must be projected away BEFORE the
    exchange (the property that makes hash-first media dedup viable when
    payloads are megabytes)."""
    from mini_project_big_data_analysis_spark.queries.ext_audit_q import (
        ext_multimodal_phash_dedup,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = ext_multimodal_phash_dedup(spark, sf_dir)
        plan = checks.explain_str(df)
        assert _n_exchanges(plan) == 1, plan
        # partial aggregate (below the exchange) already keys on the digest:
        # the exchange's input schema is (phash, count, min, sum) — never the
        # payload. Formatted plans list each node's Output; the Exchange's
        # input is the partial HashAggregate, so assert payload is absent
        # from every aggregate node.
        for chunk in plan.split("\n\n"):
            if "HashAggregate" in chunk:
                assert "payload" not in chunk, chunk
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_sql_pivot_is_aggregate_only(spark, sf_dir):
    """PIVOT must lower to aggregation only (Catalyst's two-phase pivot:
    agg on (key, pivot col), then pivot-agg on key — at most two
    exchanges, the first collapsing to |keys×7| rows) — never a join of 7
    per-day subqueries."""
    from mini_project_big_data_analysis_spark.queries.sql_q import sql_pivot

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(sql_pivot(spark, sf_dir))
        assert _n_exchanges(plan) <= 2, plan
        assert "Join" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ngram_novelty_three_shuffles_and_equi_join(spark, sf_dir):
    """Novelty = corpus count agg (1 exchange) ⋈ gram stream (1 exchange)
    + per-doc agg (1 exchange). More means the gram fan-out re-shuffled;
    a non-equi join here would be quadratic in grams."""
    from mini_project_big_data_analysis_spark.queries.ext_audit_q import (
        ext_ngram_novelty,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(ext_ngram_novelty(spark, sf_dir))
        assert _n_exchanges(plan) <= 3, plan
        # equi join required; at test SF the counts side is small enough to
        # broadcast, at scale it shuffles — both are the equi-hash family
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), plan
        assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_intersect_all_aggregates_before_join(spark, sf_dir):
    """INTERSECT ALL must plan as per-side count aggregates + a key join —
    duplicate raw rows never cross the wire individually."""
    from mini_project_big_data_analysis_spark.queries.joins_q import (
        setop_intersect_all,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = checks.explain_str(setop_intersect_all(spark, sf_dir))
        assert "HashAggregate" in plan, plan
        assert "Generate" in plan or "Expand" in plan or "replicate" in plan.lower(), plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """At 100 TB the probe side of a selective join should be pre-filtered
    by a runtime Bloom filter built from the filtered build side (row-level
    DPP for non-partition columns, Spark >=3.3). The production thresholds
    (10 MB build / 10 GB probe) are sized for clusters, so this pin lowers
    them to force the rewrite and asserts the BloomFilter aggregate +
    might_contain probe appear in the optimized plan — proving the engine
    configuration path the 100 TB posture depends on. Conf is restored
    either way; only this test's plan is affected."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "500MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        joined = lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilterAggregate" in plan, plan[:2000]
        assert "might_contain" in plan or "BloomFilterMightContain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_flip_static_join_to_broadcast(spark, sf_dir):
    """The CBO loop the estimate audit opened (VERDICT r14 item 7): on raw
    parquet a Filter inherits its child's sizeInBytes, so at a broadcast
    threshold below the full table the static planner can never broadcast
    the filtered side — it must pay the shuffle and wait for AQE to learn
    better. After ANALYZE ... FOR ALL COLUMNS + spark.sql.cbo.enabled the
    filter's selectivity shrinks the estimate below the same threshold and
    the STATIC plan (AQE off) carries the BroadcastHashJoin. The threshold
    is set to the midpoint of the two MEASURED build-side estimates
    (blind vs informed), so the pin is scale-invariant and asserts the
    estimate ordering itself, not a fixture-specific byte count."""
    from mini_project_big_data_analysis_spark.queries.cbo_q import (
        ensure_stats_tables,
    )

    tables = ensure_stats_tables(spark, sf_dir, ("lineitem", "orders"))
    keys = (
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.planStats.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {
        k: (spark.conf.get(k) if conf_is_set(spark, k) else None)
        for k in keys
    }
    build_sql = f"""
        SELECT o_orderkey, o_orderpriority FROM {tables["orders"]}
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    """
    join_sql = f"""
        SELECT l_orderkey, l_quantity, o_orderpriority
        FROM {tables["lineitem"]}
        JOIN {tables["orders"]} ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    """

    def set_cbo(on: bool) -> None:
        spark.conf.set("spark.sql.cbo.enabled", str(on).lower())
        spark.conf.set("spark.sql.cbo.planStats.enabled", str(on).lower())

    def build_stats():
        # fresh Dataset per pass: plans freeze under first-access confs
        return spark.sql(build_sql)._jdf.queryExecution().optimizedPlan().stats()

    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        # 1. Stats shrink the static build-side estimate. Without CBO the
        # filter keeps the (column-pruned) scan size; with column stats the
        # predicates' selectivity applies and a rowCount appears.
        set_cbo(False)
        blind = build_stats()
        assert blind.rowCount().isEmpty()  # no CBO → no rowCount
        set_cbo(True)
        informed = build_stats()
        assert not informed.rowCount().isEmpty()
        blind_b, informed_b = int(blind.sizeInBytes()), int(informed.sizeInBytes())
        assert informed_b < blind_b, (blind_b, informed_b)

        # 2. The estimate gap changes the static join strategy: midpoint
        # threshold → blind estimate exceeds it (shuffle join), informed
        # estimate undercuts it (broadcast).
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            str((blind_b + informed_b) // 2),
        )
        set_cbo(False)
        blind_plan = spark.sql(join_sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in blind_plan, (
            "blind estimate should exceed the midpoint threshold:\n" + blind_plan
        )
        set_cbo(True)
        informed_plan = (
            spark.sql(join_sql)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in informed_plan, (
            "column stats + CBO should flip the static choice:\n" + informed_plan
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_query_restores_session_confs(spark, sf_dir):
    """sql_cbo_broadcast mutates the three CBO confs while building its
    frame; the shared session must come back exactly as it entered —
    including 'unset' staying unset (the contains() discipline)."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.cbo_q import _CBO_KEYS

    before = {k: conf_is_set(spark, k) for k in _CBO_KEYS}
    df = all_queries()["sql_cbo_broadcast"].fn(spark, sf_dir)
    assert df.count() > 0
    after = {k: conf_is_set(spark, k) for k in _CBO_KEYS}
    assert before == after, (before, after)


def test_cbo_stats_reorder_join_graph(spark, sf_dir):
    """The join-ORDER half of the statistics story: written worst-first
    (lineitem JOIN orders JOIN customer, the two fact tables syntactically
    first), without stats Catalyst keeps the syntactic order — the biggest
    possible intermediate. With ANALYZE stats + cbo.joinReorder the
    optimizer roots the tree at lineitem⋈(orders⋈filtered-customer): the
    selective dim join builds the small intermediate first. Pinned by the
    relative nesting of the two join conditions in the optimized plan
    (outer join prints first in toString)."""
    import re

    from mini_project_big_data_analysis_spark.queries.cbo_q import (
        ensure_stats_tables,
    )

    t = ensure_stats_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    keys = (
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.planStats.enabled",
        "spark.sql.cbo.joinReorder.enabled",
    )
    saved = {
        k: (spark.conf.get(k) if conf_is_set(spark, k) else None)
        for k in keys
    }
    sql = f"""
        SELECT c_mktsegment, count(*) AS n
        FROM {t["lineitem"]}
        JOIN {t["orders"]}   ON l_orderkey = o_orderkey
        JOIN {t["customer"]} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
        GROUP BY c_mktsegment
    """
    orderkey_join = re.compile(r"Join Inner, \(l_orderkey#\d+L? = o_orderkey#\d+L?\)")
    custkey_join = re.compile(r"Join Inner, \(o_custkey#\d+L? = c_custkey#\d+L?\)")

    def join_positions(cbo_on: bool):
        for k in keys:
            spark.conf.set(k, str(cbo_on).lower())
        plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        mo, mc = orderkey_join.search(plan), custkey_join.search(plan)
        assert mo and mc, plan[:2000]
        return mo.start(), mc.start()

    try:
        o_pos, c_pos = join_positions(cbo_on=False)
        assert c_pos < o_pos, (
            "without stats the syntactic order should stand "
            "(custkey join at the root, fact⋈fact innermost)"
        )
        o_pos, c_pos = join_positions(cbo_on=True)
        assert o_pos < c_pos, (
            "stats + joinReorder should root the tree at the orderkey join "
            "(filtered dim join innermost)"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_histogram_fixes_skewed_selectivity(spark, sf_dir):
    """Basic column stats assume a uniform value distribution — on the
    log-normal-ish ``events.value`` (median ~35, max ~490) that is wrong
    by an order of magnitude in BOTH directions (measured at sf0.01:
    `value > 113` est 7695 vs actual 1010; `value < 10` est 204 vs actual
    1816). ``spark.sql.statistics.histogram.enabled`` makes ANALYZE build
    an equi-height histogram and the same range predicates estimate within
    a few percent. At 100 TB selectivity this wrong flips join strategies
    and shuffle sizings; skewed columns are the rule in training-data
    corpora (doc lengths, scores, degree distributions)."""
    from mini_project_big_data_analysis_spark.queries.cbo_q import _CBO_KEYS

    keys = _CBO_KEYS + (
        "spark.sql.statistics.histogram.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    saved = {
        k: (spark.conf.get(k) if conf_is_set(spark, k) else None)
        for k in keys
    }
    table = "cbo_hist_events_pin"
    try:
        # the fixtures' events ts is INT64 µs (NTZ); nanosAsLong lets the
        # CREATE map an INT64-ns ts too, as sources/readers.py's fallback does
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for k in _CBO_KEYS:
            spark.conf.set(k, "true")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} USING parquet "
            f"LOCATION '{sf_dir}/events.parquet'"
        )

        def est(pred: str) -> int:
            st = (
                spark.sql(f"SELECT event_id FROM {table} WHERE {pred}")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert st.rowCount().isDefined()
            return int(str(st.rowCount().get()))

        preds = ["value > 113", "value < 10"]
        actual = {
            p: spark.sql(f"SELECT count(*) AS n FROM {table} WHERE {p}").collect()[0].n
            for p in preds
        }
        assert all(v > 0 for v in actual.values()), actual

        def ratio_err(e: int, a: int) -> float:
            # symmetric multiplicative error: 1.0 = exact, 5.0 = 5× off in
            # either direction (an additive |e-a|/a caps underestimates at
            # 1.0 and would hide a 30→170 miss)
            e = max(e, 1)
            return max(e, a) / min(e, a)

        spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS value")
        basic = {p: ratio_err(est(p), actual[p]) for p in preds}

        spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS value")
        hist = {p: ratio_err(est(p), actual[p]) for p in preds}

        for p in preds:
            # uniform assumption: multiples off (measured 5.5-8.9× across
            # fixtures); histogram: within a few percent
            assert basic[p] > 3.0, (p, basic[p])
            assert hist[p] < 1.3, (p, hist[p])
            assert hist[p] < basic[p] / 2, (p, basic, hist)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_tpch_family_static_plans_change(spark, sf_dir):
    """Round 16: the TPC-H multi-join family planned blind (raw parquet,
    CBO off) vs informed (ANALYZEd catalog tables, CBO+joinReorder on),
    AQE off, stock broadcast threshold — statistics must CHANGE the static
    plan on every id in the set (build sides / join order; the per-id
    shapes live in CBO_TPCH_AUDIT.json via scripts/audit_cbo_tpch.py),
    and neither mode may degenerate to a nested-loop or cartesian join.
    Runs on newSession(): the probe registers temp views under the base
    table names."""
    from mini_project_big_data_analysis_spark.queries.cbo_q import (
        _TPCH_CBO_CASES,
        join_signature,
        tpch_static_plan,
    )

    s = spark.newSession()
    for qid in sorted(_TPCH_CBO_CASES):
        blind = join_signature(tpch_static_plan(s, qid, sf_dir, use_stats=False))
        informed = join_signature(tpch_static_plan(s, qid, sf_dir, use_stats=True))
        assert blind, qid
        assert blind != informed, (qid, blind)
        bad = [
            j
            for j in blind + informed
            if j.startswith(("BroadcastNestedLoopJoin", "CartesianProduct"))
        ]
        assert not bad, (qid, bad)


def test_cbo_tpch_q17_semireduces_aggregate_before_broadcast(spark, sf_dir_mid):
    """The pinned static-plan IMPROVEMENT (round-15 verdict item 3): in
    Q17, blind planning broadcasts the per-part scalar-avg aggregate
    wholesale — a hash relation at FULL part cardinality, the classic
    100 TB broadcast bomb (the aggregate's byte estimate looks small, its
    row count is every part ever shipped). With stats + CBO join reorder,
    the aggregate is first semi-reduced through the brand/size-filtered
    part dimension (~1/25 selectivity, known only via column stats), so
    the relation that reaches the lineitem probe holds only qualifying
    parts. Pin: blind has a BroadcastExchange directly above the
    avg(l_quantity) subtree; informed does not (the aggregate sits on the
    streamed side of a BuildLeft join against the filtered-part
    broadcast). Measured at sf0.01+ (sf0.001's aggregate is so small the
    reorder is cost-neutral and CBO may legitimately keep either shape —
    the pin asserts the decision where the sides genuinely differ)."""
    import re

    from mini_project_big_data_analysis_spark.queries.cbo_q import (
        tpch_static_plan,
    )

    def agg_is_broadcast(plan: str) -> bool:
        # the aggregate ITSELF is the broadcast relation only when the
        # BroadcastExchange's first non-wrapper descendant (walking the
        # linear Project/Filter chain — single-child nodes, so the next
        # line IS the child) is the avg HashAggregate. A broadcast of a
        # JOIN RESULT that merely carries the `(0.5 * avg(l_quantity))`
        # attribute through a Project (the informed shape) stops at the
        # join node and must not match.
        lines = plan.splitlines()

        def op(line: str) -> str:
            m = re.match(r"(?:\*\(\d+\) )?(\w+)", re.sub(r"^[\s:+\-]*", "", line))
            return m.group(1) if m else ""

        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            j = i + 1
            while j < len(lines):
                o = op(lines[j])
                if o in ("Project", "Filter"):
                    j += 1
                    continue
                if o == "HashAggregate" and "avg(l_quantity" in lines[j]:
                    return True
                break
        return False

    s = spark.newSession()
    blind = tpch_static_plan(s, "sql_tpch_q17", sf_dir_mid, use_stats=False)
    informed = tpch_static_plan(s, "sql_tpch_q17", sf_dir_mid, use_stats=True)
    assert agg_is_broadcast(blind), "expected blind q17 to broadcast the aggregate"
    assert not agg_is_broadcast(informed), (
        "stats should keep the part-grain aggregate off the broadcast side"
    )
    # and the informed plan still probes lineitem with a broadcast (no SMJ
    # regression at this scale)
    assert "BroadcastHashJoin" in informed
