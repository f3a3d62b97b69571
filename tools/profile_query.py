"""Per-entry work profile, read with the benchmark's own tracer.

Usage:
    python tools/profile_query.py [name-substring ...] [--sf DIR] [--threshold 1.5]

For each registry entry whose name contains one of the substrings (every
entry when none is given; the fixture-scale ``g_*`` entries are left out),
one discarded warm-up request, then one request traced as ``bench.py`` traces
its measured one (``bench.traced_request``): ``perfbench/layers.Tracer`` marks
before the entry call, when it returns its frame (the *body*) and after
``.collect()`` (the *collect* phase). Work is attributed by Spark's monotonic
job, stage and SQL-execution ids, so jobs submitted from helper threads count,
and only stages that ran are counted (a job's skipped stages, whose shuffle
output is reused, are not).

stdout carries one JSON line per entry: the Tracer counters plus
``body.sql``, the call site (``description``) of each SQL execution the body
ran. stderr gets the machine-speed calibration probe first, then a ``FLAG``
line for each slow entry whose stages are mostly single-task. A flag is a
lead, not a verdict: final limits and 1-row aggregates legitimately run
single-task stages. Formatted plans come from ``tools/explain_audit.py``.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import traced_request  # noqa: E402
from hive_clone_spark import catalog, registry  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.run import calibration_probe, quiet  # noqa: E402


def _totals(c: dict) -> tuple[float, float, float]:
    """(wall s, stages, single-task stages) of a request, both phases."""
    return tuple(
        c.get(f"body.{k}", 0) + c.get(f"collect.{k}", 0)
        for k in ("s", "stages", "single_task_stages")
    )


def flag(c: dict, threshold: float) -> bool:
    """A slow request whose stages are mostly (or entirely) single-task."""
    wall, stages, single = _totals(c)
    return wall >= threshold and stages > 0 and single / stages >= 0.5


def profile(spark, tracer: layers.Tracer, fn, sf_dir: str) -> dict:
    """Counters of one traced request of ``fn``, after one discarded warm-up."""
    fn(spark, sf_dir).collect()
    return traced_request(spark, tracer, fn, sf_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="entry-name substrings (default: all)")
    ap.add_argument("--sf", default=catalog.DEFAULT_SF_DIR)
    ap.add_argument("--threshold", type=float, default=1.5,
                    help="wall seconds from which a single-task-bound entry is flagged")
    args = ap.parse_args(argv)

    from hive_clone_spark.session import get_spark

    registry.load_all_modules()
    spark = get_spark(app_name="profile")
    quiet(spark)
    print(f"calibration_sec={calibration_probe(spark, args.sf):.4f}", file=sys.stderr)
    tracer = layers.Tracer(spark, spark._jvm.java.lang.ProcessHandle.current().pid())
    names = [
        n for n in sorted(registry.QUERIES)
        if not n.startswith("g_") and (not args.names or any(a in n for a in args.names))
    ]
    for name in names:
        try:
            row = profile(spark, tracer, registry.QUERIES[name], args.sf)
        except Exception as e:  # diagnostic tool: report, keep going
            print(json.dumps({"entry": name, "error": f"{type(e).__name__}: {e}"[:500]}), flush=True)
            continue
        print(json.dumps({"entry": name, **row}), flush=True)
        if flag(row, args.threshold):
            wall, stages, single = _totals(row)
            print(f"FLAG {name}: {wall:.2f}s, {single:.0f}/{stages:.0f} single-task stages",
                  file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
