"""Docs-vs-registry sync guards: README's stated catalog counts must equal
the live registry (round-5 VERDICT flagged hand-written counts drifting
150 → 153; this pins them generated-in-spirit — the test IS the generator
check)."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_readme_counts_match_registry():
    from mini_project_big_data_analysis_spark.queries import all_queries

    n = len(all_queries())
    readme = (ROOT / "README.md").read_text()
    stated_ids = {int(m) for m in re.findall(r"(\d+) ids", readme)}
    stated_green = {
        tuple(map(int, m)) for m in re.findall(r"(\d+)/(\d+) (?:green|complete)", readme)
    }
    assert stated_ids == {n}, f"README says {stated_ids} ids, registry has {n}"
    for a, b in stated_green:
        assert a == b == n, f"README claims {a}/{b}, registry has {n}"


def test_rotation_window_ids_are_registered():
    import sys

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry

    from mini_project_big_data_analysis_spark.queries import all_queries

    registry = all_queries()
    window = entry.coverage_rotation()
    assert len(window) == len(set(window)), "duplicate ids in rotation window"
    missing = [q for q in window if q not in registry]
    assert not missing, f"rotation window names unregistered ids: {missing}"


def test_survey_lists_every_registered_id():
    import re

    from mini_project_big_data_analysis_spark.queries import all_queries

    survey = set(re.findall(r"`([a-z0-9_]+)`", (ROOT / "SURVEY.md").read_text()))
    missing = sorted(set(all_queries()) - survey)
    assert not missing, f"registered ids absent from SURVEY.md §2: {missing}"


def test_sf100_compare_count_matches_scaling_record():
    """README's sf100 paragraph and SCALING.md's fifth-point record are
    hand-written twins; pin the headline compare count so the two can't
    drift apart again (README said 32 while SCALING.md said 77 in round 9)."""
    import re

    scaling = (ROOT / "SCALING.md").read_text()
    m = re.search(r"\*\*(\d+)/(\d+) completed compares\s*\nhash-identical\*\*", scaling)
    assert m, "SCALING.md sf100 record headline not found"
    assert m.group(1) == m.group(2), "SCALING.md claims a non-clean sf100 record"
    n = int(m.group(1))
    readme = (ROOT / "README.md").read_text()
    m2 = re.search(r"(\d+) completed oracle compares hash-identical", readme)
    assert m2, "README sf100 paragraph not found"
    assert int(m2.group(1)) == n, (
        f"README says {m2.group(1)} sf100 compares, SCALING.md records {n}"
    )


def test_bench_baseline_rows_parse():
    """bench.py's guard-retry and scripts/classify_bench.py both parse
    BASELINE.md's Spark column with the same regex; pin that the canonical
    table actually yields rows and that every registered id with an oracle
    has one (rows-only ids legitimately have no DuckDB column and are
    exempt from the guard)."""
    import sys

    sys.path.insert(0, str(ROOT))
    import bench

    from mini_project_big_data_analysis_spark.queries import all_queries

    rows = bench.baseline_rows()
    assert len(rows) >= 240, len(rows)
    registry = all_queries()
    missing = [
        q for q, spec in registry.items() if spec.oracle is not None and q not in rows
    ]
    assert not missing, f"oracle-checked ids without a BASELINE row: {missing}"
    assert all(v > 0 for v in rows.values())


def test_classify_bench_flags_and_verdicts(tmp_path):
    """classify_bench's pure pieces: tier parsing (both artifact shapes),
    guard flagging and the median — no Spark, no subprocess."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "classify_bench", ROOT / "scripts" / "classify_bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    assert mod.median([1.0, 3.0, 2.0]) == 2.0
    assert mod.median([1.0, 2.0]) == 1.5
    rows = mod.baseline_rows()
    assert len(rows) >= 240

    p = tmp_path / "classify_fixture.json"
    p.write_text(json.dumps({"queries": {"agg_cube": 99.0, "agg_count": 0.001}}))
    tier = mod.tier_timings(str(p))
    flagged = [
        q for q, t in tier.items() if q in rows and rows[q] > 0 and t > 2 * rows[q]
    ]
    assert flagged == ["agg_cube"]

    # driver BENCH_r{N} shape: full tier parsed out of the tail capture
    p2 = tmp_path / "classify_driver.json"
    p2.write_text(
        json.dumps(
            {
                "parsed": {"queries": {"agg_cube": 0.2}},
                "tail": "## full agg_cube: 99.0\n## full agg_count: 0.001\n",
            }
        )
    )
    assert mod.tier_timings(str(p2)) == {"agg_cube": 99.0, "agg_count": 0.001}

    # truncated-tail merge (ADVICE r15): an id present only in the parsed
    # payload must surface, while the tail's full-tier line wins on overlap
    p3 = tmp_path / "classify_truncated.json"
    p3.write_text(
        json.dumps(
            {
                "parsed": {"queries": {"agg_cube": 0.2, "agg_mode": 0.5}},
                "tail": "## full agg_cube: 99.0\n",
            }
        )
    )
    assert mod.tier_timings(str(p3)) == {"agg_cube": 99.0, "agg_mode": 0.5}
