"""State-plane pins for the streaming tier (scripts/audit_stream_state.py
is the catalog-wide sweep; these pin the claims that must never regress).

The metrics come from the streaming summary of ``record.run_query``'s
record (StreamingQueryProgress captured through pipeline.PROGRESS_SINK, an
in-process observation hook), so the pins run against the shared test
session with no subprocess or UI. What each pin protects:

- dedup keeps ONE state entry per key under a double delivery (peak ==
  distinct keys, not 2×) and the watermark then evicts down to the
  horizon (end << peak) — the round-9 measured failure mode was plain
  dropDuplicates pegging state at the full key domain forever;
- stateful_stats keeps per-KEY aggregates only (the round-11 re-plan:
  raw rows never enter keyed state — quadratic buffering at sf100 was
  the bug);
- the windowed aggs hold window-grain state, orders below row count;
- foreachBatch upsert holds NO state operator at all (merge is the
  sink's job);
- multibatch pacing closes windows as the watermark crosses batches
  (end << peak), the mechanism that bounds state at 100 TB ingest.
"""

from __future__ import annotations

from mini_project_big_data_analysis_spark.record import run_query
from mini_project_big_data_analysis_spark.streaming import pipeline

from conftest import SF_DIR


def run_with_progress(spark, qid: str) -> dict[str, int]:
    rec = run_query(spark, qid, SF_DIR, action=lambda df: df.count())
    stream = rec["stream"]
    return {
        "batches": stream["batches"],
        "inputs": stream["input_rows"],
        "peak": stream["peak_state"],
        "end": stream["end_state"],
        "result_rows": rec["result"],
    }


def test_dedup_state_one_entry_per_key_then_evicted(spark):
    r = run_with_progress(spark, "stream_dedup")
    n_keys = r["inputs"] // 2  # double delivery of the same table
    assert r["inputs"] == 2 * n_keys and n_keys > 0
    # Batching precondition, asserted explicitly (ADVICE r13): the two
    # bounds below observe Spark 4.1.2's availableNow planner putting the
    # two byte-identical file deliveries in SEPARATE micro-batches with a
    # watermark-eviction pass between them. A runtime upgrade that plans
    # both files into one batch breaks that observation window without
    # breaking dedup itself — fail HERE with the environment named, not
    # on the state bounds below.
    assert r["batches"] >= 2, (
        "availableNow planned both deliveries into one micro-batch — a "
        f"Spark batching-policy change, not a dedup regression: {r}"
    )
    # one state entry per key despite two deliveries — 2× here means
    # dropDuplicatesWithinWatermark regressed to key-domain accumulation
    assert r["peak"] == n_keys, r
    # and the watermark then evicts down to the in-horizon keys
    assert r["end"] < r["peak"] // 10, r


def test_stateful_stats_state_is_key_grain_not_row_grain(spark):
    r = run_with_progress(spark, "stream_stateful_stats")
    assert r["inputs"] > 0
    # the round-11 re-plan: keyed state holds per-key aggregates (5 event
    # types), never buffered rows; data-proportional state was the sf100 bug
    assert r["peak"] <= 10, r


def test_tumbling_state_is_window_grain(spark):
    r = run_with_progress(spark, "stream_tumbling_agg")
    assert r["inputs"] > 0 and r["peak"] > 0
    # state holds exactly one entry per output window — not per input row
    assert r["peak"] == r["result_rows"], r


def test_foreachbatch_upsert_holds_no_state(spark):
    r = run_with_progress(spark, "stream_foreachbatch_upsert")
    assert r["inputs"] > 0 and r["batches"] >= 1
    assert r["peak"] == 0, r


def test_multibatch_pacing_closes_windows(spark):
    r = run_with_progress(spark, "stream_multibatch_agg")
    assert r["batches"] >= 4, r
    assert 0 < r["end"] < r["peak"], r


def test_hook_is_off_by_default():
    assert pipeline.PROGRESS_SINK is None


def test_sliding_state_is_window_grain(spark):
    """VERDICT r12 item 7: `stream_sliding_agg` is one of the two
    largest-state complete-mode streams (3,605 rows at sf0.1). The bound
    is (window × type) grain — the overlap factor (duration/slide = 2)
    times the tumbling grain, never row grain. Growth past result_rows
    means the sliding aggregate started buffering events."""
    r = run_with_progress(spark, "stream_sliding_agg")
    assert r["inputs"] > 0 and r["peak"] > 0
    # complete mode retains every (window, type) aggregate: exactly the
    # result grain, two open windows per event via the 2h/1h overlap.
    # (No peak < inputs bound: at sf0.001 the fixture is SPARSE — 1,000
    # events spread over ~1,500 (window, type) cells — so state rows can
    # legitimately exceed input rows while still being window-grain; the
    # grain equality below is the scale invariant.)
    assert r["peak"] == r["result_rows"], r


def test_session_state_is_session_grain(spark):
    """VERDICT r12 item 7: `stream_session_agg` held 95,465 state rows at
    sf0.1 — large because the fixture's users are sparse (most sessions
    are singletons), but the GRAIN is merged (user, session), i.e. the
    result grain, not buffered input rows. The sink is already the
    round-11 foreachBatch parquet form (executor-side); this pins the
    state side: peak == sessions emitted, and the session MERGE is real
    (sessions < inputs)."""
    r = run_with_progress(spark, "stream_session_agg")
    assert r["inputs"] > 0 and r["peak"] > 0
    assert r["peak"] == r["result_rows"], r
    # merging happened: fewer sessions than events
    assert r["result_rows"] < r["inputs"], r
