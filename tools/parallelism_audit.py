"""Per-query task-parallelism audit (round-9 lesson, made a tool).

Round 9 found four multi-second bench entries whose dominant stage ran
as a SINGLE task (1-split fixture scans feeding interpreted HOF work;
a broadcast theta join streaming from the one partition a global
window leaves) — invisible in `.explain()` output, because the plan
is identical whether a scan has 1 split or 200. This tool measures
what the plan cannot show: it runs each registered query under its
own job group and reads the StatusTracker's per-stage task counts,
flagging queries over a wall-time threshold whose work includes
single-task stages.

A flagged query is a LEAD, not a verdict: final limits, 1-row
aggregates, and driver-bounded fixpoint probes legitimately run
1-task stages. The signal is a SLOW query whose single-task stages
dominate (high wall time + few multi-task stages) — exactly the
p_quality_classifier / q234 / p_ngram_novelty shape.

Usage:
    python tools/parallelism_audit.py [name-substring ...]
        [--threshold 1.5] [--sf-dir /root/testdata/sf0.1]

Writes parallelism_audit.json (parallelism_audit_partial.json for a
name-filtered run) next to this file and prints flagged queries. The
output is a local artifact, not committed (see .gitignore). Not
CI-gated (it executes the suite); the job-id probe helpers are
tested in tests/test_parallelism_audit.py.

KNOWN LIMITATION (round-10 advice): setJobGroup properties are
thread-local and NOT inherited by Python worker threads under
PySpark's pinned-thread mode, so entries that submit actions from a
ThreadPoolExecutor (the q208_key_discovery concurrent-scan pattern)
run those jobs OUTSIDE the audit's job group — the tool would report
zero (or too few) stages for exactly the concurrent-action entries.
audit_query therefore attributes every job id in the cursor window
(highest job id before the query, highest after] to the query, union
the group's own ids — sound because the audit runs queries
sequentially in one process. The ``grouped`` field records whether the
job group alone would have covered the window (False = the entry
spawns jobs from threads).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


# getJobInfo returns None not only past the frontier but also for ids
# the status tracker EVICTED (spark.ui.retainedJobs) or briefly hasn't
# registered; a single-None stop would under-detect the frontier and
# attribute the missed jobs to the NEXT query. Tolerate a bounded run
# of None ids before concluding the frontier was reached.
_PROBE_GAP = 64


def _max_job_id(st, cursor: int) -> tuple[int, bool]:
    """Highest known job id, probing upward from ``cursor``. Seeds from
    the tracker's active ids (so a wide eviction gap cannot hide live
    jobs), then probes past up to _PROBE_GAP consecutive None ids.
    Returns (frontier, hit_gap) — hit_gap records that the probe
    crossed missing ids, i.e. the tracker evicted part of the window
    and per-stage attribution may be incomplete."""
    frontier = cursor
    # PySpark's StatusTracker spells it getActiveJobsIds; tolerate the
    # Scala-side spelling too
    active = getattr(st, "getActiveJobsIds", None) or getattr(
        st, "getActiveJobIds", None
    )
    for jid in active() if active else ():
        frontier = max(frontier, int(jid))
    probe, misses, hit_gap = frontier, 0, False
    while misses < _PROBE_GAP:
        probe += 1
        if st.getJobInfo(probe) is not None:
            if misses:
                hit_gap = True
            frontier = probe
            misses = 0
        else:
            misses += 1
    return frontier, hit_gap


def audit_query(spark, name: str, fn, sf_dir: str, cursor: int = -1) -> dict:
    """Run one query under a job group; return wall time + per-stage
    task counts (plus the advanced job-id cursor under ``_cursor``).

    ``cursor`` is the highest job id seen before this query; it powers
    the thread-spawn fallback (module docstring): when the job group
    comes back empty — concurrent-action entries submit jobs from
    ThreadPoolExecutor threads, which do NOT inherit setJobGroup under
    pinned-thread mode — the audit attributes every job id in
    (cursor, new frontier] to this query instead of reporting a false
    zero-stage result."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    cursor, gap_before = _max_job_id(st, cursor)
    sc.setJobGroup(name, name, interruptOnCancel=False)
    t0 = time.perf_counter()
    err = None
    try:
        fn(spark, sf_dir).collect()
    except Exception as e:  # diagnostic tool: record, keep going
        err = f"{type(e).__name__}: {e}"
    wall = round(time.perf_counter() - t0, 3)
    group_ids = set(st.getJobIdsForGroup(name))
    new_cursor, gap_after = _max_job_id(st, cursor)
    window_ids = set(range(cursor + 1, new_cursor + 1))
    # the audit runs queries sequentially in one process, so every job
    # in the cursor window belongs to this query — including jobs the
    # group missed because a worker thread submitted them
    job_ids = sorted(group_ids | window_ids)
    grouped = window_ids <= group_ids
    stage_tasks: list[tuple[int, int]] = []
    for jid in job_ids:
        ji = st.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stage_tasks.append((int(sid), int(si.numTasks)))
    stage_tasks = sorted(set(stage_tasks))
    sc.setJobGroup(None, None)
    return {
        "name": name,
        "wall_sec": wall,
        "error": err,
        "n_stages": len(stage_tasks),
        "n_single_task_stages": sum(1 for _, n in stage_tasks if n == 1),
        "max_tasks": max((n for _, n in stage_tasks), default=0),
        "stages": stage_tasks,
        "grouped": grouped,
        # the probe crossed evicted job ids: attribution for this query
        # may be incomplete (read with spark.ui.retainedJobs in mind)
        "probe_hit_gap": gap_before or gap_after,
        "_cursor": new_cursor,
    }


def flag(row: dict, threshold: float) -> bool:
    """A slow query whose stages are mostly (or entirely) single-task."""
    if row["error"] or row["wall_sec"] < threshold or row["n_stages"] == 0:
        return False
    single_frac = row["n_single_task_stages"] / row["n_stages"]
    return row["max_tasks"] == 1 or single_frac >= 0.5


def main() -> int:
    import os

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    threshold = 1.5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            threshold = float(a.split("=", 1)[1])
        elif a.startswith("--sf-dir"):
            sf_dir = a.split("=", 1)[1]

    from hive_clone_spark import registry
    from hive_clone_spark.session import get_spark

    registry.load_all_modules()
    spark = get_spark(app_name="parallelism-audit")
    names = [
        n
        for n in sorted(registry.QUERIES)
        if not n.startswith("g_") and (not args or any(a in n for a in args))
    ]
    rows = []
    cursor = -1
    for name in names:
        row = audit_query(spark, name, registry.QUERIES[name], sf_dir, cursor)
        cursor = row.pop("_cursor", cursor)
        rows.append(row)
        if flag(row, threshold):
            print(
                f"FLAG {name}: {row['wall_sec']}s, "
                f"{row['n_single_task_stages']}/{row['n_stages']} single-task "
                f"stages, max parallelism {row['max_tasks']}"
            )
    # a name-filtered run writes its subset to a separate file, so it
    # never overwrites a full-suite audit from an earlier run
    fname = "parallelism_audit.json" if not args else "parallelism_audit_partial.json"
    out = Path(__file__).resolve().parent / fname
    out.write_text(json.dumps({"threshold": threshold, "sf_dir": sf_dir,
                               "queries": rows}, indent=1, sort_keys=True))
    flagged = [r["name"] for r in rows if flag(r, threshold)]
    print(f"audited {len(rows)} queries; flagged {len(flagged)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
