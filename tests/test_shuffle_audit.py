"""Shuffle-plane pins: the bytes each representative operator moves per
scanned row, measured (not argued from plan shape).

scripts/audit_shuffle.py runs each id to a noop sink through
``record.run_query``, whose record sums the stage metrics of the jobs the
run started (driver status store, UI off). The 100 TB posture of the
dedup/text/aggregate tiers is that the shuffle carries fixed-width digests
and partial aggregates — a small CONSTANT number of bytes per scanned row,
independent of document payload size — so one subprocess audit at sf0.01 pins that constant with ~3× headroom
over the measured value (SCALING.md round-12 section records the
measured full-catalog table and the sf0.01→sf0.1 flatness check).

The audit still runs as a subprocess, end to end through the script and in
a JVM of its own; it no longer needs a UI.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"

# qid -> max shuffle bytes per scanned input row (≈3× the measured sf0.01
# value, see SCALING.md). A breach means payloads started crossing the
# wire — exactly the regression class that is invisible to row-count
# correctness checks and fatal at 100 TB.
BOUNDS = {
    "ext_dedup_exact": 120.0,  # md5 + ids through one hash-agg
    "ext_dedup_fingerprint": 120.0,
    "ext_dedup_fuzzy": 2000.0,  # banded minhash signatures, rep-collapse
    "ext_dedup_simhash": 800.0,
    "ext_vocab_topk": 15.0,  # partial hash-agg before the one exchange
    "ext_text_stats": 600.0,  # one stats row per doc
    "sql_tpch_q1": 2.0,  # classic map-side combine: 4 groups
    "agg_group_avg": 1.0,
}


@pytest.fixture(scope="module")
def audit_result() -> dict[str, dict[str, int]]:
    proc = subprocess.run(
        [sys.executable, "scripts/audit_shuffle.py", SF_DIR, *sorted(BOUNDS)],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # last stdout line is the JSON record
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_audit_covers_all_pinned_ids(audit_result):
    assert set(audit_result) == set(BOUNDS)
    for qid, rec in audit_result.items():
        assert rec["records"] > 0, f"{qid}: no scanned rows attributed"


def test_shuffle_bytes_per_row_bounds(audit_result):
    breaches = []
    for qid, bound in BOUNDS.items():
        rec = audit_result[qid]
        bpr = rec["shuffle"] / rec["records"]
        if bpr > bound:
            breaches.append(f"{qid}: {bpr:.1f} B/row > {bound}")
    assert not breaches, "; ".join(breaches)


def test_no_spill_at_gate_scale(audit_result):
    spilled = {q: r["spill"] for q, r in audit_result.items() if r["spill"]}
    assert not spilled, f"unexpected spill at sf0.01: {spilled}"


# ---------------------------------------------------------------------------
# The one measured B/row riser at sf100 (SCALING.md round-12 table:
# `ext_dedup_simhash` 6.7 → 25.5 B/row at class depth 1000) is the
# pigeonhole bucket join's id-list payload growing with CLASS DEPTH before
# rep-collapse amortizes it — still digest-grain (the join itself runs over
# ONE representative row per distinct simhash; the 2.8e9-pair sf100
# expansion is pinned closed-form in test_sf100_invariants). The two pins
# below make a regression PAST digest grain fail loudly without the
# subprocess audit: (a) the optimized plan must collapse to reps (Aggregate)
# on BOTH sides BELOW the bucket join — losing that turns the join into
# depth² candidate work; (b) on a depth-stress corpus the expanded output must
# match the closed form derived from the 40 class simhashes exactly.
# ---------------------------------------------------------------------------


def _subtree_has_n_aggregates(plan: str, node_substr: str, n: int) -> bool:
    """True if every plan line containing ``node_substr`` has ≥ ``n``
    Aggregate nodes strictly inside its subtree (deeper indentation)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    found_any = False
    for i, line in enumerate(lines):
        if node_substr not in line:
            continue
        found_any = True
        d = depth(line)
        aggs = 0
        for sub in lines[i + 1 :]:
            if depth(sub) <= d:
                break
            if "Aggregate" in sub:
                aggs += 1
        if aggs < n:
            return False
    return found_any


def test_simhash_depth_stress_join_is_rep_grain(spark):
    import pyspark.sql.functions as F

    from mini_project_big_data_analysis_spark.operators import dedup

    n_classes, depth = 40, 75
    docs = spark.range(n_classes * depth).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("depth stress class body text "),
            (F.col("id") % n_classes).cast("string"),
        ).alias("text"),
    )
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)

    # (a) structural: the bucket join happens over reps, not documents —
    # both join subtrees contain the simhash group-collapse Aggregate
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert _subtree_has_n_aggregates(plan, "Join", 2), plan

    # (b) closed form, derived from the class simhashes themselves (the
    # 40-row collect is the class dimension, not the corpus)
    sigs = [
        r["s"]
        for r in docs.filter(F.col("doc_id") < n_classes)
        .select(dedup.simhash64(F.col("text")).alias("s"))
        .collect()
    ]
    assert len(set(sigs)) == n_classes  # fixture precondition: distinct classes
    cross_classes = sum(
        1
        for i in range(n_classes)
        for j in range(i + 1, n_classes)
        if bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= 3
    )
    expected = n_classes * depth * (depth - 1) // 2 + cross_classes * depth * depth
    assert pairs.count() == expected
