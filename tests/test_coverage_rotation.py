"""``__spark_entry__.coverage_rotation()``: the driver's correctness window,
computed from the ``CORRECTNESS_r<N>.json`` records next to the entry file.

Each test copies the entry file into ``tmp_path`` with the records it needs
and loads it from there, so the window is computed from exactly those
records."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

from mini_project_big_data_analysis_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ORACLE_IDS = sorted(qid for qid, q in all_queries().items() if q.oracle is not None)
ROWS_ONLY = sorted(qid for qid, q in all_queries().items() if q.oracle is None)

#: The round-18 window written ahead at the end of round 17: the 42 ids last
#: checked in round 13, then the first 8 of round 14, alphabetical in each.
ROUND18_PLAN = """
ext_benford_audit ext_bm25_search ext_cdc_merge ext_changepoint_meanshift
ext_cohort_ltv ext_dedup_components ext_dedup_editdist ext_dedup_exact
ext_dedup_fingerprint ext_dedup_incremental ext_dedup_keep_best ext_dedup_ngram
ext_dedup_simhash ext_dedup_url ext_doc_chunk ext_emb_neardup
ext_embed_centroids ext_graph_bfs_depth ext_graph_degree_dist
ext_lang_confusion ext_multimodal_chunks ext_multimodal_features
ext_multimodal_meta ext_paragraph_dedup ext_percentile_bands ext_pipeline_e2e
ext_psi_stability ext_quality_gate ext_rank_normalize ext_repetition_stats
ext_sample_pps ext_scd2_dim ext_seasonality_index ext_sim_topk
ext_smoothed_rates ext_user_rfm ext_vocab_growth fn_regex_extract
join_bucketed stream_clean_sink stream_stateful_stats stream_weather_pipeline
agg_cube agg_quartiles_exact agg_rollup agg_session_window agg_sliding_window
ext_ab_zscore ext_attribution_lasttouch ext_graph_communities
""".split()


def _window(root) -> list[str]:
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), root)
    spec = importlib.util.spec_from_file_location(
        f"entry_{root.name}", root / "__spark_entry__.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.coverage_rotation()


def _check(ok: bool = True, err: str | None = None) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": ok, "err": err}


def _write(root, n: int, checks: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(checks))


def test_records_r01_to_r17_give_the_round18_plan(tmp_path):
    for n in range(1, 18):
        name = f"CORRECTNESS_r{n:02d}.json"
        shutil.copy(os.path.join(REPO, name), tmp_path / name)
    assert _window(tmp_path) == ROUND18_PLAN


def test_failed_then_never_checked_then_stalest(tmp_path):
    never_a, never_b, fixed, recent, failed_r3, old_a, old_b, failed_r1, err_r1 = (
        ORACLE_IDS[:9]
    )
    rest = ORACLE_IDS[9:]
    _write(tmp_path, 1, {
        old_a: _check(), old_b: _check(), failed_r1: _check(ok=False),
        err_r1: _check(err="boom"), fixed: _check(), recent: _check(),
        failed_r3: _check(), ROWS_ONLY[0]: _check(ok=False),
    })
    _write(tmp_path, 2, {fixed: _check(ok=False), recent: _check()})
    _write(tmp_path, 3, {fixed: _check(), failed_r3: _check(ok=False)})
    _write(tmp_path, 4, {qid: _check() for qid in rest})

    window = _window(tmp_path)
    assert window[:9] == [
        # 1. the last check failed (a wrong hash or an error), stalest first
        failed_r1, err_r1, failed_r3,
        # 2. never checked
        never_a, never_b,
        # 3. the rest by the round of their last check, then id
        old_a, old_b, recent, fixed,
    ]
    assert window[9:] == rest[:41]


def test_rows_only_ids_never_take_a_slot(tmp_path):
    # every oracle id checked green in round 1; rows-only ids never checked
    # (or failed) would otherwise head the window
    _write(tmp_path, 1, {qid: _check() for qid in ORACLE_IDS})
    _write(tmp_path, 2, {ROWS_ONLY[0]: _check(ok=False)})
    window = _window(tmp_path)
    assert window == ORACLE_IDS[:50]
    assert not set(window) & set(ROWS_ONLY)
