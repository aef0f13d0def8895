"""Round-6 third batch (SURVEY §2.9i): time-series gap fill / EWMA / MAD
anomalies / sequence match, plus the quality-suite, layout-planner, salted-
join, triangle-census, and GROUP BY ALL additions. Each id gets (a) its
DuckDB oracle run through the driver's own compare and (b) at least one
behavioral pin the oracle can't express (spine contiguity, weight
normalization, salt-equivalence, orientation invariants, bin capacity).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_project_big_data_analysis_spark.queries import REGISTRY

from tests.oracle import compare, duck_connection

BATCH3_IDS = [
    "ext_time_gapfill",
    "ext_ewma_smooth",
    "ext_anomaly_mad",
    "ext_sequence_match",
    "ext_compaction_bins",
    "ext_dq_rules",
    "join_skew_salt",
    "ext_triangle_count",
    "sql_groupby_all",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qid", BATCH3_IDS)
def test_batch3_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_gapfill_spine_is_contiguous_hourly(spark, sf_dir):
    """Every user's spine covers each hour between its min and max exactly
    once, gap rows carry the previous observed value, and observed rows are
    never flagged as gaps."""
    rows = REGISTRY["ext_time_gapfill"].fn(spark, sf_dir).collect()
    from collections import defaultdict
    from datetime import datetime, timedelta

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user, "no spine rows"
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.hour_s)
        hours = [datetime.strptime(r.hour_s, "%Y-%m-%d %H:%M:%S") for r in rs]
        assert all(
            b - a == timedelta(hours=1) for a, b in zip(hours, hours[1:])
        ), f"user {uid}: spine not hourly-contiguous"
        # endpoints are real observations by construction
        assert not rs[0].is_gap and not rs[-1].is_gap
        last_seen = None
        for r in rs:
            if r.is_gap:
                assert r.n_events == 0
                assert r.v_filled == last_seen, f"user {uid}: LOCF broke"
            else:
                assert r.n_events > 0
                last_seen = r.v_filled


def test_ewma_first_row_equals_value_and_weights_renormalize(spark, sf_dir):
    """The first row of each series has no history, so its EWMA must equal
    its own value (weight renormalization); all EWMAs must stay within the
    per-series [min, max] envelope (convexity)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    firsts: dict[str, tuple[int, float]] = {}
    for r in sorted(ev.collect(), key=lambda r: (r.ts, r.event_id)):
        firsts.setdefault(r.event_type, (r.event_id, r.value))
    out = {r.event_id: r for r in REGISTRY["ext_ewma_smooth"].fn(spark, sf_dir).collect()}
    for etype, (eid, val) in firsts.items():
        assert out[eid].ewma == pytest.approx(round(val, 6), abs=1e-6), etype
    env = {
        r.event_type: (r.lo, r.hi)
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in out.values():
        lo, hi = env[r.event_type]
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6


def test_mad_resists_outlier_burst(spark):
    """The defining property vs mean/stddev: a 40% outlier burst must not
    drag the MAD threshold — the 60% inliers stay non-anomalous."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * 10,
            "value": [10.0, 10.1, 9.9, 10.05, 9.95, 10.02, 1000.0, 1001.0, 999.0, 1002.0],
        }
    )
    df = spark.createDataFrame(pdf)
    med = df.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = df.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    n_anom = (
        dev.join(mad, "event_type")
        .filter(F.col("adev") > 3 * 1.4826 * F.col("mad"))
        .count()
    )
    assert n_anom == 4  # exactly the burst, none of the inliers


def test_skew_salt_equals_plain_join(spark, sf_dir):
    """Salting must be invisible in the result: the salted aggregate equals
    the plain (unsalted) join aggregate row-for-row."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        ev.select("event_type")
        .distinct()
        .select("event_type", F.length("event_type").cast("long").alias("w"))
    )
    plain = {
        r.event_type: (r.n, round(r.s, 6))
        for r in ev.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value") * F.col("w")).alias("s"))
        .collect()
    }
    salted = {
        r.event_type: (r.n, round(r.weighted_sum, 6))
        for r in REGISTRY["join_skew_salt"].fn(spark, sf_dir).collect()
    }
    assert salted == plain


def test_triangle_census_invariants(spark, sf_dir):
    """Orientation sanity: wedges bound triangles, and every count is
    positive on the synthetic 3-out-degree graph."""
    r = REGISTRY["ext_triangle_count"].fn(spark, sf_dir).collect()[0]
    assert r.n_edges > 0
    assert 0 <= r.n_triangles <= r.n_wedges
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    # ≤3 distinct undirected neighbors per node from 3 affine generators
    assert r.n_edges <= 3 * n


def test_compaction_bins_respect_capacity(spark, sf_dir):
    """Greedy running-sum packing: every bin except a source's last must
    have reached the 4 KiB target (the stream never opens a new bin while
    the current one is under target), and per-source totals must be
    conserved."""
    rows = REGISTRY["ext_compaction_bins"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {
        r.source: r.t
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for src, bins in by_src.items():
        bins.sort(key=lambda r: r.bin_id)
        assert sum(b.bin_bytes for b in bins) == totals[src]
        assert [b.bin_id for b in bins] == list(range(len(bins)))
        # running-sum rule: bins before the last close at/after target
        for b in bins[:-1]:
            assert b.bin_bytes >= 1  # non-empty
        # cumulative closure: bytes before bin k must be >= k * target
        cum = 0
        for b in bins:
            assert cum // 4096 == b.bin_id
            cum += b.bin_bytes


def test_dq_rules_verdicts(spark, sf_dir):
    """The synthetic orders table is clean: every rule passes, and the
    shape is the (rule, metric, passed) contract."""
    rows = {r.rule: r for r in REGISTRY["ext_dq_rules"].fn(spark, sf_dir).collect()}
    assert set(rows) == {
        "completeness_custkey",
        "uniqueness_orderkey",
        "nonneg_totalprice",
        "domain_orderstatus",
        "min_row_count",
    }
    assert all(r.passed for r in rows.values())
    assert rows["uniqueness_orderkey"].metric == 1.0


BATCH4_IDS = [
    "stream_sliding_agg",
    "stream_session_agg",
    "ext_incremental_view",
    "agg_bitmap_distinct",
]


@pytest.mark.parametrize("qid", BATCH4_IDS)
def test_batch4_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_sliding_overlap_factor_is_two(spark, sf_dir):
    """Every event lands in exactly two windows: total sliding n_events =
    2 × clean row count, and each window covers 2 hours of starts."""
    out = REGISTRY["stream_sliding_agg"].fn(spark, sf_dir)
    n_clean = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )  # fixture has no nulls at sf0.001? count via clean filter instead
    ev = REGISTRY["stream_clean_sink"].fn(spark, sf_dir).count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == 2 * ev
    del n_clean


def test_session_stream_equals_batch_twin(spark, sf_dir):
    """The streaming sessionization must equal the batch session_window
    computed over the same cleaned input — batch/stream parity at the
    operator level (not just vs the SQL oracle)."""
    from mini_project_big_data_analysis_spark.queries.base import load

    clean = (
        load(spark, sf_dir, "events")
        .withColumn("ts2", F.col("ts"))
        .filter(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
    )
    batch = (
        clean.groupBy(F.session_window("ts2", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.date_format(F.min("ts2"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
        .select("user_id", "session_start", "n_events", "avg_value")
    )
    got = {tuple(r) for r in REGISTRY["stream_session_agg"].fn(spark, sf_dir).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_bitmap_partials_merge_like_or(spark):
    """The mergeability contract: bitmap over A∪B equals popcount of
    bitmap(A) OR bitmap(B) — the property incremental refresh relies on."""
    a = spark.range(0, 500).select(F.col("id").alias("user_id"))
    b = spark.range(250, 700).select(F.col("id").alias("user_id"))

    def bm(df):
        return (
            df.select(
                F.bitmap_bucket_number("user_id").alias("bucket"),
                F.bitmap_bit_position("user_id").alias("pos"),
            )
            .groupBy("bucket")
            .agg(F.bitmap_construct_agg("pos").alias("bm"))
        )

    merged = (
        bm(a)
        .unionByName(bm(b))
        .groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")))
        .collect()[0][0]
    )
    assert merged == 700  # |0..699| exactly, overlap not double-counted


BATCH5_IDS = [
    "window_topk_per_group",
    "agg_histogram_equiwidth",
    "fn_array_hof",
    "ext_ab_srm_check",
    "ext_skyline_pareto",
]


@pytest.mark.parametrize("qid", BATCH5_IDS)
def test_batch5_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_topk_plan_uses_window_group_limit(spark, sf_dir):
    """The scale claim: rank()<=k must compile to WindowGroupLimit (per-
    partition k-row heaps BEFORE the shuffle), not a full window over the
    whole table."""
    plan = (
        REGISTRY["window_topk_per_group"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_skyline_members_are_undominated(spark, sf_dir):
    """Every skyline row must be strictly undominated by every customer
    aggregate (the O(n²) definition checked against the O(n log n)
    implementation)."""
    cust = {
        r.o_custkey: (r.spend, r.n_orders)
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 6).alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .collect()
    }
    sky = REGISTRY["ext_skyline_pareto"].fn(spark, sf_dir).collect()
    assert sky
    for s in sky:
        for k, (sp, n) in cust.items():
            dominates = (
                sp >= s.spend
                and n >= s.n_orders
                and (sp > s.spend or n > s.n_orders)
            )
            assert not dominates, f"cust {k} dominates skyline row {s}"


def test_histogram_counts_conserve_rows(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_nonnull = ev.filter(F.col("value").isNotNull()).count()
    out = REGISTRY["agg_histogram_equiwidth"].fn(spark, sf_dir)
    assert out.agg(F.sum("n")).collect()[0][0] == n_nonnull


def test_srm_not_detected_on_fair_split(spark, sf_dir):
    r = REGISTRY["ext_ab_srm_check"].fn(spark, sf_dir).collect()[0]
    assert not r.srm_detected  # md5 is unbiased; the fixture must pass
    assert r.n_a + r.n_b > 0


BATCH6_IDS = [
    "ext_markov_transitions",
    "ext_burst_detect",
    "ext_autocorr",
]


@pytest.mark.parametrize("qid", BATCH6_IDS)
def test_batch6_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_markov_rows_are_probability_distributions(spark, sf_dir):
    """Each source state's outgoing probabilities must sum to ~1 and pair
    counts must total (events - one per active user)."""
    rows = REGISTRY["ext_markov_transitions"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    psum = defaultdict(float)
    for r in rows:
        psum[r.src] += r.p_transition
    assert psum and all(abs(s - 1.0) < 1e-4 for s in psum.values())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users


def test_burst_needs_full_trailing_window(spark, sf_dir):
    """No flagged hour may sit within the first 6 hours of its type's
    series (partial baselines are excluded by construction)."""
    out = {
        (r.event_type, r.hour_s)
        for r in REGISTRY["ext_burst_detect"].fn(spark, sf_dir).collect()
    }
    from mini_project_big_data_analysis_spark.queries.base import load

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .count()
        .collect()
    )
    from collections import defaultdict

    hours = defaultdict(list)
    for r in hourly:
        hours[r.event_type].append(r.h)
    for etype, hs in hours.items():
        first6 = {
            h.strftime("%Y-%m-%d %H:%M:%S") for h in sorted(hs)[:6]
        }
        assert not any((etype, h) in out for h in first6)


def test_autocorr_is_bounded(spark, sf_dir):
    for r in REGISTRY["ext_autocorr"].fn(spark, sf_dir).collect():
        assert -1.0 - 1e-9 <= r.acf1 <= 1.0 + 1e-9
        assert r.n_pairs > 0


BATCH7_IDS = ["agg_bool_aggregates", "fn_collation_group"]


@pytest.mark.parametrize("qid", BATCH7_IDS)
def test_batch7_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_collation_merges_case_variants(spark, sf_dir):
    """The collated group count must equal the distinct lower-cased lang
    count — no case-split groups survive."""
    out = REGISTRY["fn_collation_group"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.count() == docs.select(F.lower("lang")).distinct().count()
    assert out.agg(F.sum("n")).collect()[0][0] == docs.count()


BATCH8_IDS = ["fn_mapinarrow_norms", "ext_vector_quantize"]


@pytest.mark.parametrize("qid", BATCH8_IDS)
def test_batch8_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_mapinarrow_norms_match_sql_path(spark, sf_dir):
    """The Arrow-batch numpy path must agree with the pure-SQL higher-order
    spelling to 6dp — same reduction, different execution tier."""
    sql_norms = {
        r.vec_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.transform("embedding", lambda x: x.cast("double")),
                        F.lit(0.0),
                        lambda acc, x: acc + x * x,
                    )
                ),
                6,
            ).alias("n"),
        )
        .collect()
    }
    arrow_norms = {
        r.vec_id: r.l2_norm
        for r in REGISTRY["fn_mapinarrow_norms"].fn(spark, sf_dir).collect()
    }
    assert set(arrow_norms) == set(sql_norms)
    for k, v in arrow_norms.items():
        assert v == pytest.approx(sql_norms[k], abs=2e-6), k


def test_quantize_roundtrip_error_is_bounded_by_half_step(spark, sf_dir):
    """Scalar quantization guarantees |x - q·scale| ≤ scale/2 per element,
    so rmse ≤ scale/2; and every q must fit int8."""
    rows = REGISTRY["ext_vector_quantize"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.in_range
        assert r.rmse <= r.scale / 2 + 1e-9


def test_span_dedup_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["ext_span_dedup"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_span_cut_ranges_are_maximal_and_disjoint(spark, sf_dir):
    """Cut ranges within a doc must be disjoint with ≥1 token between them
    (maximality: adjacent/overlapping repeated grams merged), each at least
    the gram width long, and every range's FIRST gram really is repeated
    corpus-wide."""
    rows = REGISTRY["ext_span_dedup"].fn(spark, sf_dir).collect()
    assert rows
    from collections import Counter, defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        assert r.span_tokens >= 8
        assert r.cut_end - r.cut_start + 1 == r.span_tokens
        by_doc[r.doc_id].append((r.cut_start, r.cut_end))
    for doc, spans in by_doc.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1, f"doc {doc}: ranges not maximal/disjoint"
    docs = {
        r.doc_id: r.text.strip().split()
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    gram_counts = Counter(
        " ".join(toks[i : i + 8])
        for toks in docs.values()
        for i in range(len(toks) - 7)
    )
    for doc, spans in by_doc.items():
        toks = docs[doc]
        for s, e in spans:
            g = " ".join(toks[s : s + 8])
            assert gram_counts[g] >= 2, f"doc {doc} span at {s} not repeated"


def test_span_dedup_survives_short_documents(spark, tmp_path):
    """ADVICE r6 regression: a document with fewer than 8 tokens used to
    crash the whole job (sequence(1, 0) is DESCENDING in Spark, so the
    transform lambda hit slice(t, 0, 8) → INVALID_PARAMETER_VALUE.START).
    Short docs must contribute zero grams — same semantics as the oracle's
    empty generate_series — while repeated 8-gram spans in long docs are
    still found."""
    long_txt = "a b c d e f g h tail" + " filler" * 4
    spark.createDataFrame(
        [
            (1, "one two three", "en", None, 13),
            (2, "", "en", None, 0),
            (3, long_txt, "en", None, len(long_txt)),
            (4, long_txt, "en", None, len(long_txt)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = REGISTRY["ext_span_dedup"].fn(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in rows} == {3, 4}, rows


def test_token_drift_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["ext_token_drift"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_js_divergence_bounds_and_identity(spark):
    """JS ∈ [0, ln 2]; identical slices give exactly 0."""
    import math

    rows = [(True, "a b c a"), (False, "a b c a")]
    df = spark.createDataFrame(rows, "is_en boolean, text string")
    df.createOrReplaceTempView("_js_probe")
    from pyspark.sql import functions as FF

    toks = df.select(
        "is_en", FF.explode(FF.split(FF.trim("text"), r"\s+")).alias("tok")
    )
    a = toks.filter("is_en").groupBy("tok").count()
    b = toks.filter(~FF.col("is_en")).groupBy("tok").count()
    j = a.withColumnRenamed("count", "ca").join(
        b.withColumnRenamed("count", "cb"), "tok", "full_outer"
    )
    p = FF.col("ca") / 4.0
    q = FF.col("cb") / 4.0
    m = (p + q) / 2
    js = j.agg(
        FF.sum(0.5 * p * FF.log(p / m)) + FF.sum(0.5 * q * FF.log(q / m))
    ).collect()[0][0]
    assert js == pytest.approx(0.0, abs=1e-12)
    assert 0.0 <= js <= math.log(2) + 1e-9


BATCH10_IDS = ["window_rolling_corr", "ext_winsorize"]


@pytest.mark.parametrize("qid", BATCH10_IDS)
def test_batch10_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_rolling_corr_bounded_and_full_frames_only(spark, sf_dir):
    rows = REGISTRY["window_rolling_corr"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.roll_corr is not None:  # constant frames yield NULL corr
            assert -1.0 - 1e-9 <= r.roll_corr <= 1.0 + 1e-9
    # full-frame guard: per type, exactly n_series - 24 rows survive
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    from collections import Counter

    got = Counter(r.event_type for r in rows)
    for t, n in per_type.items():
        assert got[t] == max(0, n - 24), t


def test_winsorize_shrinks_toward_center(spark, sf_dir):
    """Clipping to [P1,P99] must clip ~2% of rows and cannot move the mean
    outside the cut band."""
    for r in REGISTRY["ext_winsorize"].fn(spark, sf_dir).collect():
        assert 0 < r.n_clipped <= 0.03 * r.n
        assert r.p01 <= r.mean_winsor <= r.p99


BATCH11_IDS = ["ext_ks_test", "ext_gini_concentration", "agg_mode_deterministic"]


@pytest.mark.parametrize("qid", BATCH11_IDS)
def test_batch11_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_ks_d_is_a_valid_statistic(spark, sf_dir):
    r = REGISTRY["ext_ks_test"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= r.ks_d <= 1.0
    assert r.n_en > 0 and r.n_other > 0


def test_gini_distributed_rank_equals_sorted_rank(spark, sf_dir):
    """The range-partition + offset rank must reproduce the plain sorted
    rank exactly — verified by recomputing Gini from a driver-side sort."""
    cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("cents"))
        .collect()
    )
    xs = [r.cents for r in sorted(cust, key=lambda r: (r.cents, r.o_custkey))]
    n = len(xs)
    g = 2.0 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * sum(xs)) - (n + 1.0) / n
    r = REGISTRY["ext_gini_concentration"].fn(spark, sf_dir).collect()[0]
    assert r.n_customers == n
    assert r.gini == pytest.approx(round(g, 6), abs=1e-6)
    assert 0.0 <= r.gini < 1.0


def test_mode_is_the_true_argmax_with_smallest_value_tie_break(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    from collections import Counter, defaultdict
    import math

    counts = defaultdict(Counter)
    for r in ev:
        if r.value is not None:
            counts[r.event_type][math.floor(r.value)] += 1
    got = {
        r.event_type: (r.mode_value, r.mode_count)
        for r in REGISTRY["agg_mode_deterministic"].fn(spark, sf_dir).collect()
    }
    for etype, c in counts.items():
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[etype] == best, etype


def test_sample_exact_k_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["ext_sample_exact_k"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_sample_exact_k_counts(spark, sf_dir):
    from collections import Counter

    got = Counter(
        r.lang for r in REGISTRY["ext_sample_exact_k"].fn(spark, sf_dir).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    avail = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in avail.items():
        assert got[lang] == min(20, n), lang


def test_expire_snapshots_lifecycle(spark, tmp_path):
    """Write 3 snapshots, expire to keep_last=1: old versions vanish from
    the manifest AND disk, the survivor stays readable, re-expire is a
    no-op, new writes allocate past expired numbers, and keep_last=0 is
    refused."""
    import os

    import pytest as pt

    from mini_project_big_data_analysis_spark.sources.writers import (
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    td = str(tmp_path / "tbl")
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 5).withColumnRenamed("id", "v")
        assert write_snapshot(df, td) == i
    assert expire_snapshots(td, keep_last=1) == [0, 1]
    assert {r.v for r in read_snapshot(spark, td, 2).collect()} == {20, 21, 22, 23, 24}
    for v in (0, 1):
        assert not os.path.exists(os.path.join(td, f"v{v}"))
        with pt.raises(KeyError):
            read_snapshot(spark, td, v)
    assert expire_snapshots(td, keep_last=1) == []  # idempotent
    assert write_snapshot(spark.range(1).withColumnRenamed("id", "v"), td) == 3
    with pt.raises(ValueError):
        expire_snapshots(td, keep_last=0)


def test_footer_stats_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["src_footer_stats"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_l2_normalize_unit_norm_and_zero_guard(spark):
    from mini_project_big_data_analysis_spark.functions.vector_fns import (
        l2_normalize,
    )

    df = spark.createDataFrame(
        [([3.0, 4.0],), ([0.0, 0.0],), ([1.0, 0.0, 0.0],)], "a array<double>"
    )
    rows = [r.n for r in df.select(l2_normalize("a").alias("n")).collect()]
    assert rows[0] == pytest.approx([0.6, 0.8])
    assert rows[1] == [None, None]  # zero vector -> NULLs, not ANSI error
    assert rows[2] == pytest.approx([1.0, 0.0, 0.0])


def test_pipeline_e2e_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["ext_pipeline_e2e"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_pipeline_e2e_stage_ordering_matters(spark, sf_dir):
    """Dedupe-before-split is load-bearing: doc counts after the composed
    pipeline must equal gate→dedupe cardinality, and every (split, lang)
    doc count must be nonnegative with splits exactly {train,val,test}."""
    rows = REGISTRY["ext_pipeline_e2e"].fn(spark, sf_dir).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = docs.filter(
        F.col("n_chars").between(50, 5000)
        & F.col("lang").isin("en", "de", "es", "fr", "zh")
    )
    n_unique = gated.select("text").distinct().count()
    assert sum(r.n_docs for r in rows) == n_unique


BATCH_FINAL_IDS = ["ext_rank_normalize", "window_nth_value"]


@pytest.mark.parametrize("qid", BATCH_FINAL_IDS)
def test_final_batch_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_rank_normalize_is_uniform_per_stratum(spark, sf_dir):
    rows = REGISTRY["ext_rank_normalize"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in rows:
        assert 0.0 <= r.len_pct <= 1.0
        by_lang[r.lang].append(r.len_pct)
    for lang, ps in by_lang.items():
        ps.sort()
        assert ps[0] == 0.0  # percent_rank of the first row
        # uniform spacing: adjacent gaps equal 1/(n-1) (all-distinct ranks)
        n = len(ps)
        if n > 1:
            assert ps[-1] == pytest.approx(1.0, abs=1e-6)


def test_nth_value_matches_python_reference(spark, sf_dir):
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    from collections import defaultdict

    seq = defaultdict(list)
    for r in ev:
        seq[r.user_id].append(r.event_type)
    got = {
        r.user_id: (r.third_event, r.n_events)
        for r in REGISTRY["window_nth_value"].fn(spark, sf_dir).collect()
    }
    for uid, types in seq.items():
        third = types[2] if len(types) >= 3 else None
        assert got[uid] == (third, len(types)), uid


BATCH13_IDS = ["ext_user_rfm", "ext_graph_degree_dist"]


@pytest.mark.parametrize("qid", BATCH13_IDS)
def test_batch13_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_rfm_covers_all_users_with_valid_scores(spark, sf_dir):
    rows = REGISTRY["ext_user_rfm"].fn(spark, sf_dir).collect()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5


def test_degree_distribution_conserves_nodes_and_edges(spark, sf_dir):
    rows = REGISTRY["ext_graph_degree_dist"].fn(spark, sf_dir).collect()
    tri = REGISTRY["ext_triangle_count"].fn(spark, sf_dir).collect()[0]
    # handshake lemma: sum(degree * n_nodes) = 2 * |E|
    assert sum(r.degree * r.n_nodes for r in rows) == 2 * tri.n_edges


def test_lang_confusion_matches_oracle(spark, sf_dir, duck):
    q = REGISTRY["ext_lang_confusion"]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, msg


def test_lang_confusion_rows_are_distributions(spark, sf_dir):
    rows = REGISTRY["ext_lang_confusion"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    share = defaultdict(float)
    for r in rows:
        share[r.declared] += r.row_share
    assert share and all(abs(s - 1.0) < 1e-4 for s in share.values())
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs


BATCH15_IDS = ["ext_smoothed_rates", "ext_ab_power"]


@pytest.mark.parametrize("qid", BATCH15_IDS)
def test_batch15_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_smoothing_shrinks_toward_prior_monotonically(spark, sf_dir):
    """Shrinkage property: every smoothed rate sits BETWEEN the raw rate
    and the global prior, and lower-volume users shrink more."""
    rows = REGISTRY["ext_smoothed_rates"].fn(spark, sf_dir).collect()
    tot_n = sum(r.n_events for r in rows)
    tot_c = sum(r.n_purchases for r in rows)
    prior = tot_c / tot_n
    for r in rows:
        lo, hi = sorted((r.raw_rate, round(prior, 4)))
        assert lo - 1e-4 <= r.smoothed_rate <= hi + 1e-4, r


def test_mde_shrinks_with_sample_size(spark, sf_dir):
    """More data ⇒ smaller detectable effect: recomputing the MDE with
    doubled arm sizes must shrink it by ~1/sqrt(2)."""
    import math

    for r in REGISTRY["ext_ab_power"].fn(spark, sf_dir).collect():
        assert r.mde_abs > 0
        mde2 = 2.8016 * math.sqrt(r.pooled_var * (1 / (2 * r.n_a) + 1 / (2 * r.n_b)))
        assert mde2 == pytest.approx(r.mde_abs / math.sqrt(2), rel=1e-6)


BATCH16_IDS = ["ext_changepoint_meanshift", "ext_psi_stability"]


@pytest.mark.parametrize("qid", BATCH16_IDS)
def test_batch16_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_changepoint_finds_planted_shift(spark):
    """A series with a real level shift must split exactly at the shift."""
    from datetime import datetime, timedelta

    rows = []
    base = datetime(2024, 3, 1)
    for h in range(40):
        rate = 2 if h < 25 else 20  # shift after hour 24
        for k in range(rate):
            rows.append(("t", base + timedelta(hours=h, seconds=k), float(k), h * 100 + k))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double, event_id long")
    df.createOrReplaceTempView("_cp_probe")
    hourly = df.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("event_type")
    idx = hourly.select(
        "h",
        F.row_number().over(Window.partitionBy("event_type").orderBy("h")).alias("i"),
        F.sum("n").over(w).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("cnt"),
        F.sum("n").over(w_all).alias("tot"),
    )
    scored = idx.filter(F.col("i") < F.col("cnt")).select(
        "h",
        (
            F.abs(F.col("s") / F.col("i") - (F.col("tot") - F.col("s")) / (F.col("cnt") - F.col("i")))
            * F.sqrt(F.col("i") * (F.col("cnt") - F.col("i")) / F.col("cnt").cast("double"))
        ).alias("score"),
    )
    best = scored.orderBy(F.col("score").desc(), "h").first()
    assert best.h == datetime(2024, 3, 1, 0) + timedelta(hours=24)


def test_psi_terms_are_nonnegative_and_buckets_complete(spark, sf_dir):
    rows = REGISTRY["ext_psi_stability"].fn(spark, sf_dir).collect()
    assert sorted(r.bucket for r in rows) == list(range(1, 11))
    for r in rows:
        # (p-q)·ln(p/q) >= 0 always (same sign factors)
        assert r.psi_term >= -1e-9
    # reference deciles: each p_ref ≈ 0.1
    for r in rows:
        assert r.p_ref == pytest.approx(0.1, abs=0.02)


BATCH17_IDS = ["ext_basket_lift", "ext_benford_audit"]


@pytest.mark.parametrize("qid", BATCH17_IDS)
def test_batch17_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_lift_symmetry_and_bounds(spark, sf_dir):
    """Lift is symmetric in its definition (a<b orientation just dedupes);
    support ≤ min marginal share; confidence ∈ (0, 1]."""
    rows = REGISTRY["ext_basket_lift"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.support <= 1
        assert 0 < r.confidence_a_to_b <= 1
        assert r.lift > 0
        assert r.item_a < r.item_b  # orientation: each pair once


def test_benford_probabilities_sum_to_one(spark, sf_dir):
    rows = REGISTRY["ext_benford_audit"].fn(spark, sf_dir).collect()
    assert sorted(r.leading_digit for r in rows) == list(range(1, 10))
    assert abs(sum(r.observed_p for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.chi2_term >= 0


BATCH18_IDS = ["ext_seasonality_index", "ext_vocab_growth"]


@pytest.mark.parametrize("qid", BATCH18_IDS)
def test_batch18_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_seasonal_index_averages_to_one(spark, sf_dir):
    rows = REGISTRY["ext_seasonality_index"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    share = defaultdict(float)
    for r in rows:
        assert r.seasonal_index > 0
        share[r.event_type] += r.seasonal_index
    # Σ over 24 hours of (share × 24) = 24 exactly when all hours present
    for etype, s in share.items():
        assert s == pytest.approx(24.0, abs=0.01), etype


def test_vocab_growth_is_monotone_and_totals_vocab(spark, sf_dir):
    rows = sorted(
        REGISTRY["ext_vocab_growth"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    prev = 0
    for r in rows:
        assert r.new_tokens > 0
        assert r.vocab_size == prev + r.new_tokens
        prev = r.vocab_size
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    vocab = set()
    for d in docs:
        vocab.update(d.text.strip().split())
    assert rows[-1].vocab_size == len(vocab)


def test_vocab_growth_two_phase_offsets_cross_superbuckets(spark, tmp_path):
    """The fixture corpus puts every first-seen token in bucket 0, so the
    round-8 two-phase running sum (1024-bucket superbucket partials +
    broadcast offsets + superbucket-local windows) is invisible to the
    oracle gate. Synthetic corpus with doc_ids sparse across THREE
    superbuckets (0, 60k, 120k — superbuckets are 51,200 docs wide) pins
    that the stitched cumulative equals the plain running sum."""
    rows = []
    tok = 0
    for base in (0, 60_000, 120_000):
        for j in range(4):
            words = " ".join(f"w{tok + i}" for i in range(3))  # 3 new tokens
            tok += 3
            rows.append((base + j * 50, f"{words} w0", "en", "syn", 10))
    sdf = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "documents.parquet")
    sdf.coalesce(1).write.parquet(path)
    import shutil

    # read_table expects {sf_dir}/documents.parquet
    out = sorted(
        REGISTRY["ext_vocab_growth"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.bucket,
    )
    shutil.rmtree(path, ignore_errors=True)
    assert len(out) == 12
    expected_cum = 0
    for r in out:
        assert r.new_tokens == 3
        expected_cum += 3
        assert r.vocab_size == expected_cum, (r.bucket, r.vocab_size, expected_cum)
    # 4 buckets per superbucket, 3 superbuckets: offsets crossed twice
    assert {r.bucket for r in out} == (
        {0, 1, 2, 3} | {1200 + i for i in range(4)} | {2400 + i for i in range(4)}
    )


BATCH19_IDS = ["ext_cohort_ltv", "ext_percentile_bands"]


@pytest.mark.parametrize("qid", BATCH19_IDS)
def test_batch19_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_ltv_curves_are_monotone_per_cohort(spark, sf_dir):
    rows = REGISTRY["ext_cohort_ltv"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    curves = defaultdict(list)
    for r in rows:
        curves[r.cohort_day].append((r.offset_days, r.cum_value_per_user))
    assert curves
    for day, pts in curves.items():
        pts.sort()
        assert pts[0][0] == 0  # cohort day itself always has revenue rows
        vals = [v for _, v in pts]
        assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:])), day


def test_percentile_bands_are_ordered(spark, sf_dir):
    for r in REGISTRY["ext_percentile_bands"].fn(spark, sf_dir).collect():
        assert r.p50 <= r.p90 <= r.p99
        assert r.n > 0


BATCH20_IDS = ["ext_sample_pps", "ext_dedup_keep_best"]


@pytest.mark.parametrize("qid", BATCH20_IDS)
def test_batch20_ids_match_their_oracle(spark, sf_dir, duck, qid):
    q = REGISTRY[qid]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{qid}: {msg}"


def test_pps_longer_docs_sample_more(spark, sf_dir):
    """PPS property: the sampled set's mean length must exceed the corpus
    mean (long docs are overrepresented by construction), and the draw is
    deterministic across invocations."""
    import pyspark.sql.functions as FF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(FF.avg("n_chars")).collect()[0][0]
    s1 = {r.doc_id for r in REGISTRY["ext_sample_pps"].fn(spark, sf_dir).collect()}
    s2 = {r.doc_id for r in REGISTRY["ext_sample_pps"].fn(spark, sf_dir).collect()}
    assert s1 == s2 and s1
    sample_mean = (
        docs.filter(FF.col("doc_id").isin(list(s1))).agg(FF.avg("n_chars")).collect()[0][0]
    )
    assert sample_mean > corpus_mean


def test_keep_best_prefers_longest_copy(spark, sf_dir):
    """Among identical-content docs, the survivor must be the longest
    (n_chars ties broken by lowest id), and exactly one per content key."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for d in docs:
        groups[d.text].append((d.n_chars, d.doc_id))
    want = {min(sorted(g, key=lambda t: (-t[0], t[1]))[:1])[1] for g in groups.values()}
    got = {r.doc_id for r in REGISTRY["ext_dedup_keep_best"].fn(spark, sf_dir).collect()}
    assert got == want


def test_rolling_corr_constant_frame_is_exact_null(spark, tmp_path):
    """A 24-row frame whose series is exactly constant has TRUE sample
    variance 0, so the guarded covar/(sx*sy) spelling must yield NULL —
    bit-exact zero in, NULL out, never a noise ratio. This pins, on the
    Spark side, the failure mode the sf10 differential run exposed in the
    ORACLE: DuckDB's sliding segment-tree stddev returns ~1.5e-15 on a
    100-deep constant run (insert/evict rounding residue survives the
    incremental update), and covar/(sd*sd) then divides two correlated
    noise terms into a plausible-looking +/-0.97 "correlation". Spark's
    WindowExec recomputes every bounded frame from scratch, lands exact
    zeros, and nullif converts them to NULL. 100-deep constant runs are
    exactly what a dup-heavy corpus looks like after key-preserving
    replication, so NULL-not-noise is the scale-correct contract
    (classified in SCALING.md, round-9 sf10 oracle extension)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1)
    n_const, n_var = 100, 60
    rows = []
    for i in range(n_const + n_var):
        value = 5.0 if i < n_const else float((i * 37) % 101)
        rows.append(
            (i, t0 + datetime.timedelta(seconds=i), i, "a", value, "{}")
        )
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    out = {
        r.ts_s: r.roll_corr
        for r in REGISTRY["window_rolling_corr"].fn(spark, str(tmp_path)).collect()
    }
    # full-frame filter keeps rows 24..: every frame inside the constant
    # run (rows 24..99, and row 100 whose prev-series is still constant)
    # must be NULL, not a tiny-noise ratio
    for i in range(24, n_const + 1):
        ts_s = (t0 + datetime.timedelta(seconds=i)).strftime("%Y-%m-%d %H:%M:%S")
        assert out[ts_s] is None, f"row {i}: expected NULL, got {out[ts_s]}"
    # and frames fully inside the varying tail are real correlations
    tail = [
        out[(t0 + datetime.timedelta(seconds=i)).strftime("%Y-%m-%d %H:%M:%S")]
        for i in range(n_const + 25, n_const + n_var)
    ]
    assert any(v is not None for v in tail)
    for v in tail:
        if v is not None:
            assert -1.0 - 1e-9 <= v <= 1.0 + 1e-9
