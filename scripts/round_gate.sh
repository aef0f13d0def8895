#!/usr/bin/env bash
# One-command local round gate — the four checks every round must pass,
# in fail-fast order (cheapest diagnostic first). Mirrors what the external
# driver grades: pytest (operator semantics), the DuckDB differential at
# the driver's sf (correctness gate), the catalog-wide plan audit (scale
# shapes), and the headline bench (BASELINE.md comparison line).
#
# Usage: scripts/round_gate.sh [sf_dir]        (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
# bare `python` is absent on some hosts; honor $PYTHON, fall back to
# whichever of python/python3 exists (ADVICE r14 low)
PY="${PYTHON:-$(command -v python >/dev/null 2>&1 && echo python || echo python3)}"
# one Spark core per host CPU unless the caller says otherwise, as in the
# tier-1 test command (session.get_spark would otherwise build local[32])
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"

echo "== 1/4 pytest =="
"$PY" -m pytest tests/ -x -q

echo "== 2/4 DuckDB differential @ ${SF_DIR} =="
"$PY" scripts/check_queries.py "${SF_DIR}"

echo "== 3/4 plan audit (expect flagged=0) =="
"$PY" scripts/audit_plans.py "${SF_DIR}"

echo "== 4/4 headline bench (compare vs BASELINE.md; full tier -> BENCH_FULL.json) =="
"$PY" bench.py

echo "== round gate: ALL GREEN =="
