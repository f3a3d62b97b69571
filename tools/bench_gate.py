"""Bench regression gate: per-entry work counters, wall-time advisories.

Compares a bench_detail.json (fresh run) against the committed reference
snapshot ``tools/bench_baseline.json`` and fails on:

  * an sf mismatch (the runs are not comparable);
  * an entry present in the baseline but missing from the run (a silently
    dropped bench entry is how a crash hides);
  * an entry with no trace record, unless the run lists it as cold-only
    (its budget-forced warm-up is its only, untraced, sample);
  * any GATED counter of an entry's trace above the baseline ``work`` map.

The GATED counters count Spark actions, jobs and stages that ran, txlog
commits and micro-batches. They repeat exactly for the same code on the
same data at any core count, so they are compared exactly: a throttled or
contended host cannot trip them, and one extra action in an entry body
does. Fewer is a pass.

Wall time only advises: an entry whose median grew past THRESHOLD x and by
more than ABS_FLOOR_SEC, both scaled by the run's median per-entry ratio
over the shared entries, is printed as an ``ADVISORY`` line and leaves the
exit code alone. A machine-speed shift moves every entry's ratio together
and so the median; one slow entry cannot.

New entries (in the run, not the baseline) pass; they are gated once the
baseline is re-snapshotted (``snapshot_work``).

Usage:
    python tools/bench_gate.py [bench_detail.json] [baseline.json]
Exit code 0 = pass, 1 = regression (offenders printed).
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

GATED = (
    "body.sql_execs",
    "body.jobs",
    "collect.jobs",
    "body.stages",
    "collect.stages",
    "txlog.commits",
    "stream.batches",
)
THRESHOLD = 1.5
ABS_FLOOR_SEC = 0.75

_REPO = Path(__file__).resolve().parent.parent
DEFAULT_RUN = _REPO / "bench_detail.json"
DEFAULT_BASELINE = _REPO / "tools" / "bench_baseline.json"


def snapshot_work(run: dict) -> dict[str, dict[str, int]]:
    """The baseline ``work`` map of a run: each traced entry's GATED
    counters (a counter the trace leaves out is 0)."""
    return {
        name: {k: int(rec.get(k, 0)) for k in GATED}
        for name, rec in sorted(run.get("trace", {}).items())
    }


def compare(run: dict, baseline: dict) -> list[str]:
    """Return a list of human-readable regression findings (empty = pass)."""
    if run.get("sf") != baseline.get("sf"):
        return [
            f"sf mismatch: run {run.get('sf')} vs baseline {baseline.get('sf')}"
            " — runs are not comparable"
        ]
    problems: list[str] = []
    run_q = run.get("queries", {})
    cold = set(run.get("cold_only_queries", []))
    got = snapshot_work(run)
    base_work = baseline.get("work", {})
    for name in sorted(set(baseline.get("queries", {})) | set(base_work)):
        if name not in run_q:
            problems.append(f"{name}: present in baseline but missing from run")
        elif name in cold:
            continue
        elif name not in got:
            problems.append(f"{name}: no trace record")
        elif name in base_work:
            grew = [
                f"{k} {base_work[name][k]}->{got[name][k]}"
                for k in GATED
                if got[name][k] > base_work[name][k]
            ]
            if grew:
                problems.append(f"{name}: work grew: {', '.join(grew)}")
    return problems


def advisories(run: dict, baseline: dict) -> list[str]:
    """Wall-time regressions, scaled by the run's median per-entry ratio."""
    base_q = baseline.get("queries", {})
    cold = set(run.get("cold_only_queries", []))
    run_q = {n: v for n, v in run.get("queries", {}).items() if n not in cold}
    shared = [n for n in sorted(base_q) if n in run_q and base_q[n] > 0]
    if run.get("sf") != baseline.get("sf") or not shared:
        return []
    scale = statistics.median(run_q[n] / base_q[n] for n in shared)
    out = []
    for n in shared:
        b, r = base_q[n], run_q[n]
        if r > b * THRESHOLD * scale and r - b > ABS_FLOOR_SEC * scale:
            out.append(
                f"{n}: {r:.2f}s vs baseline {b:.2f}s ({r / b:.2f}x, "
                f"threshold {THRESHOLD * scale:.2f}x at median ratio {scale:.2f})"
            )
    return out


def main() -> int:
    run_path = Path(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_RUN
    base_path = Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_BASELINE
    run = json.loads(run_path.read_text())
    baseline = json.loads(base_path.read_text())
    for a in advisories(run, baseline):
        print(f"ADVISORY {a}")
    problems = compare(run, baseline)
    for p in problems:
        print(f"REGRESSION {p}")
    if not problems:
        print(
            f"bench gate pass: {len(run.get('trace', {}))} traced entries' work "
            f"counters vs baseline {base_path.name}"
        )
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
