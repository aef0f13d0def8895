"""Codify the round-12 isolated-re-measure protocol (drift vs regression).

Every round since 12 has ended with the same hand-run loop: take the
full-tier ids that landed over BASELINE.md's 2× guard, re-measure each in
fresh-JVM isolation on the same boot, and classify the breach as in-suite
spread (isolated ratio inside the guard → drift, amend nothing) or a real
floor shift (isolated ratio over the guard in every sample → regression,
candidate for a row amendment under the same-day-pair rule). This script is
that loop:

    python scripts/classify_bench.py [bench_full.json] [sf_dir] [--samples N]

- reads the bench artifact (default BENCH_FULL.json; BENCH_r{N}.json's
  embedded "parsed" payload also works) and BASELINE.md's Spark column,
- picks every id whose tier entry exceeds 2× its row,
- runs N (default 3) SEPARATE fresh-JVM `scaling_sweep.py` subprocesses
  over that id set (the BENCH protocol: per-process JVM warm-up, per-id
  warm discarded, best-of-2),
- prints one classification row per id: tier ratio, isolated median ratio,
  verdict (DRIFT if the isolated median is inside the one-sided guard,
  REGRESSION-CANDIDATE otherwise), plus the raw samples for the audit
  trail, and a final re-baseline-trigger line (≥3 regression candidates =
  the round-12 whole-suite trigger).

The verdict column is advisory — BASELINE.md amendments remain a
documented human decision (sub-second overhead-dominated ids have a known
isolated cold floor above their in-tier warm rows; see the round-14/15
spread notes) — but the measurement legwork and the audit trail are now
one command instead of an afternoon.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import baseline_rows  # noqa: E402


def tier_timings(path: str) -> dict[str, float]:
    """Full-tier {qid: sec} from any bench artifact shape: BENCH_FULL.json
    (queries dict), or a driver BENCH_r{N}.json — whose "parsed" payload
    holds only the 20 headline ids while the full tier lives as
    "## full qid: sec" lines inside the captured "tail" text."""
    data = json.load(open(path))
    full: dict[str, float] = {}
    if "tail" in data and isinstance(data["tail"], str):
        full = {
            m.group(1): float(m.group(2))
            for m in re.finditer(r"## full (\w+): ([\d.]+)", data["tail"])
        }
        if full and len(full) < 100:
            # the driver's tail capture keeps only the last few KB; a
            # partial tier must not read as "nothing else flagged" — merge
            # the complete parsed/queries payload underneath it (the tail's
            # per-id lines win where both exist: they are the full-tier
            # measurements, the headline dict re-times the same ids)
            print(
                f"# WARNING: {path} tail holds only {len(full)} full-tier "
                "ids (truncated capture) — merging the parsed queries "
                "payload; prefer the same run's BENCH_FULL.json sidecar",
                file=sys.stderr,
            )
            for payload in (data.get("parsed"), data):
                if isinstance(payload, dict) and isinstance(
                    payload.get("queries"), dict
                ):
                    full = {**payload["queries"], **full}
                    break
    if full:
        return full
    if "queries" in data and isinstance(data["queries"], dict):
        return data["queries"]
    if "parsed" in data and isinstance(data["parsed"], dict):
        return data["parsed"].get("queries", {})
    raise SystemExit(f"{path}: no queries dict found")


def isolated_samples(ids: list[str], sf_dir: str, n: int) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {q: [] for q in ids}
    for i in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "scaling_sweep.py"), sf_dir, *ids],
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not line:
            print(f"# sample {i + 1}: sweep produced no JSON\n{proc.stderr[-500:]}", file=sys.stderr)
            continue
        timings = json.loads(line[-1])["timings"]
        for q, t in timings.items():
            out[q].append(t)
        print(f"# sample {i + 1}/{n}: {timings}", file=sys.stderr)
    return out


def median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def main() -> int:
    argv = sys.argv[1:]
    n = 3
    if "--samples" in argv:
        i = argv.index("--samples")
        if i + 1 >= len(argv) or not argv[i + 1].isdigit():
            raise SystemExit("--samples requires an integer value")
        n = int(argv[i + 1])
        del argv[i : i + 2]
    bench_path = argv[0] if argv else os.path.join(ROOT, "BENCH_FULL.json")
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"

    rows = baseline_rows()
    tier = tier_timings(bench_path)
    flagged = sorted(
        q for q, t in tier.items() if q in rows and rows[q] > 0 and t > 2 * rows[q]
    )
    if not flagged:
        print(json.dumps({"flagged": [], "regression_candidates": [], "rebaseline_trigger": False}))
        return 0
    print(f"# {len(flagged)} ids over the 2x guard: {flagged}", file=sys.stderr)

    samples = isolated_samples(flagged, sf_dir, n)
    report = []
    for q in flagged:
        xs = samples[q]
        iso = median(xs) if xs else None
        iso_ratio = round(iso / rows[q], 2) if iso else None
        verdict = (
            "NO-SAMPLES" if not xs
            else "DRIFT" if iso <= 2 * rows[q]
            else "REGRESSION-CANDIDATE"
        )
        report.append(
            {
                "id": q,
                "baseline_s": rows[q],
                "tier_s": tier[q],
                "tier_ratio": round(tier[q] / rows[q], 2),
                "isolated_samples_s": xs,
                "isolated_median_ratio": iso_ratio,
                "verdict": verdict,
            }
        )
        print(
            f"# {q}: tier {tier[q]} ({report[-1]['tier_ratio']}x) | isolated "
            f"{xs} -> {iso_ratio}x | {verdict}",
            file=sys.stderr,
        )
    candidates = [r["id"] for r in report if r["verdict"] == "REGRESSION-CANDIDATE"]
    print(
        json.dumps(
            {
                "flagged": flagged,
                "report": report,
                "regression_candidates": candidates,
                "rebaseline_trigger": len(candidates) >= 3,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
