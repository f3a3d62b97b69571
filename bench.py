"""Benchmark runner (driver contract: one JSON line on stdout).

Implements the BASELINE.md:32-36 measurement protocol: warm the JVM
with throwaway actions, then time each registered headline query
end-to-end (plan + execute + collect) at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test tables) on local[$SPARK_GRAFT_CPUS]. Spark version,
driver memory, shuffle-partition count and the machine-speed
calibration probe (``perfbench/run.py``'s ``calibration_probe``) are
recorded alongside the results.

Per query: ONE discarded warmup (codegen JIT — measured up to 3x
warm), then ONE measured run. If the measured run is ANOMALOUS —
slower than the query's own warmup, which pays codegen and is normally
the slowest execution, or over 1.5x its committed baseline median —
one retry runs and the MIN of the two is reported. The per-query floor
is warm + codegen, so total protocol cost is ~2.3x the suite's warm
total. Single warm samples jitter by a fixed few-hundred-ms; the
regression gate's 0.75 s absolute floor exists precisely so sub-second
jitter cannot trip it, and the anomaly retry bounds one-sided hiccups
on the heavies.

A wall-clock budget (SPARK_GRAFT_BENCH_BUDGET, default 1500 s of
measured query time) guards the driver's invocation timeout: once
spent, each remaining query's cold warmup run is its only sample, and
it is listed as degraded and cold-only in the detail file.

Queries run in order of DESCENDING known cost (committed baseline
median; queries new since the snapshot go first at +inf — they have
no history, so they must get honest warm samples): if the budget does
blow, the forced-cold tail lands on the cheapest queries, where a
cold sample misstates the total by tenths of a second, not multiples.

The stdout line is deliberately small: round 1's full 78-query dict
overflowed the driver's output-tail capture ("parsed": null in
BENCH_r01.json), so the per-query detail (including every individual
run) goes to bench_detail.json next to this file and stdout carries
only the total + the 10 slowest medians, rounded to 2 dp. The
per-query WindowExec warning is silenced so the captured tail keeps
that line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hive_clone_spark import registry  # noqa: E402
from hive_clone_spark.session import get_spark  # noqa: E402
from perfbench.run import calibration_probe, quiet  # noqa: E402

# Queries excluded from the benchmark (fixture-scale demos, not data-scale).
EXCLUDE_PREFIXES = ("g_",)

# 450 -> 495 when the registry hit 221 entries (196 bench queries):
# the r8 additions (~10 entries, ~14 s warm) pushed the warmup+samples
# total past 450 and the last 11 alphabetical queries (q89-q99) went
# cold-only. 495 -> 660 at 239 bench queries, together with the move
# to the uniform warmup+1-run protocol (module docstring). 660 -> 780
# at 261 bench queries AND a measured ~1.35x machine-speed swing
# between driver VMs (min-of-3 on an idle machine vs the committed
# baseline — the detail file's calibration_sec probe makes
# this visible per run): on a fast VM the suite finishes around
# ~640 s and never touches the cap; on a slow one 780 covers ~95%.
# 780 -> 900 at 289 bench queries (round-8 session 5: the 780 cap
# cold-degraded a 68-query tail on a fast-epoch machine once warmups
# were counted; measured wall ~2.3x the 360 s measured total).
# warm and the descending-cost order confines any cold tail to
# sub-second queries. The budget is a cap, not a target — a clean
# run stops when the suite is done. 900 -> 1080 at 333 bench queries
# -> 1350 at 364 (r8s8: 23 tail degradations at 1080 on a clean run)
# (round-8 session 6: the 299-query run measured ~830 s wall on this
# VM, already brushing the cap before +34 entries landed).
# 1350 -> 1500 at 384 bench queries (round 10): the r10 closing run
# measured ~476 s of query medians => ~1100 s spent incl. warmups on
# this machine; a 1.2x driver epoch lands ~1320, brushing 1350, and
# the round added q256 (+7 s) plus the baseline-anomaly retry lane
# (extra samples exactly when a machine runs slow). Raised before the
# first degradation instead of after it, for once.
BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1500"))
def _fresh_session(sf_dir: str):
    """A warmed session and its machine-speed calibration (seconds).

    The calibration is a fixed warm workload whose wall time varies
    only with the VM (measured swing between round drivers: ~1.35x),
    so a slow recorded run is diagnosable from the detail file alone
    instead of reading as a code regression."""
    spark = get_spark(app_name="hive-clone-spark-bench")
    quiet(spark)
    # warm the parquet footer caches of the other fact tables the query
    # families scan; the probe warms lineitem and events itself
    for t in ("documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    return spark, round(calibration_probe(spark, sf_dir), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    registry.load_all_modules()
    spark, calibration_sec = _fresh_session(sf_dir)

    # Descending-known-cost order (module docstring): new queries first
    # (no history -> +inf), then by committed baseline median, so a
    # blown budget forces cold runs only onto the cheapest tail.
    base_medians: dict[str, float] = {}
    try:
        _b = json.loads(
            (Path(__file__).resolve().parent / "tools" / "bench_baseline.json")
            .read_text()
        )
        base_medians = _b.get("queries", {})
    except (OSError, ValueError):
        pass
    bench_names = [
        n for n in sorted(registry.QUERIES)
        if not n.startswith(EXCLUDE_PREFIXES)
    ]
    bench_names.sort(key=lambda n: -base_medians.get(n, float("inf")))

    runs: dict[str, list[float]] = {}
    medians: dict[str, float] = {}
    cold_only: list[str] = []
    spent = 0.0
    for name in bench_names:
        fn = registry.QUERIES[name]
        samples: list[float] = []
        # one discarded warmup run per query: the first execution pays
        # whole-stage-codegen compilation for that query's plan shapes
        # (measured: q29's samples were 4.07/2.53/1.33 — monotone
        # warmup, not data time), which is driver-side JIT cost a warmed
        # cluster never sees. The warmup is ALWAYS discarded unless the
        # hard budget is already blown — an earlier soft heuristic that
        # promoted warmups to samples past half-budget made every late
        # heavy query's median its own cold run (up to 5x warm).
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        dt = time.perf_counter() - t0
        warm_dt = dt
        spent += dt
        if spent > BUDGET_SEC:
            # hard budget blown at the warmup: the cold run is the only
            # sample. ALWAYS degraded — a cold median (up to 5x warm)
            # must never sit in the detail file indistinguishable from a
            # by-design warm single run (it would falsely trip the
            # per-query gate later), so tag the entry cold.
            samples.append(round(dt, 4))
            cold_only.append(name)
            runs[name] = samples
            medians[name] = round(statistics.median(samples), 4)
            continue
        # uniform warmup+1 protocol (module docstring): one measured
        # warm run; a retry ONLY when the sample is provably suspect —
        # (a) slower than the query's own discarded warmup, which pays
        # codegen and is normally the slowest execution (a single
        # hiccup sample once masqueraded as a 2.3x gate regression:
        # q11_cube 3.01 s one run, 1.2 s steady), or (b) round-10:
        # more than 1.5x the committed baseline median — a contention
        # window that inflates BOTH the warmup and the sample defeats
        # check (a) entirely (r10: p_lsh_tuning sampled 7.17 s in a
        # load-avg-4.8 window, warm x3 re-measures 2.2 s; warmup was
        # >= the sample, so no retry fired). MIN of the retried pair,
        # because heavy jitter is one-sided — a scheduler hiccup can
        # only inflate a sample.
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        dt = time.perf_counter() - t0
        spent += dt
        samples.append(round(dt, 4))
        base_med = base_medians.get(name)
        suspect = dt > warm_dt or (
            base_med is not None and dt > 1.5 * base_med and dt - base_med > 0.3
        )
        if suspect and spent <= BUDGET_SEC:
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            spent += dt
            samples.append(round(dt, 4))
        runs[name] = samples
        medians[name] = round(min(samples), 4)

    # End-of-suite re-measure lane (round-10 verdict task 3). All three
    # r10 gate flags were one localized contention window: three
    # schedule-ADJACENT queries whose warmup AND sample (and immediate
    # retry) all landed slow, invisible to the global median
    # normalization — warm x3 re-measures read 0.83-1.09x. An immediate
    # retry cannot escape a minutes-long window; a re-measure at the
    # END of the suite (typically many minutes later, JVM maximally
    # warm) can. Re-run each would-be-flagged query once, keep the MIN,
    # and record the extra sample — the gate then flags only queries
    # that are slow in BOTH windows.
    # The lane iterates to a fixed point and records cap/budget-dropped
    # names — logic lives in tools/bench_gate.end_of_suite_lane (shared
    # with the gate's criteria, unit-tested in tests/test_bench_gate).
    end_retried: list[str] = []
    end_dropped: list[str] = []
    if base_medians:
        try:
            from tools.bench_gate import end_of_suite_lane
        except Exception:
            end_of_suite_lane = None
        if end_of_suite_lane is not None:

            def _rerun(name: str) -> float:
                nonlocal spent
                t0 = time.perf_counter()
                registry.QUERIES[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                spent += dt
                return dt

            # Degrade to no-retries on ANY lane failure: after the full
            # budget is spent, emitting results matters more than the
            # extra samples (round-12 advice — the pre-refactor block
            # guarded the whole computation, not just the import).
            try:
                end_retried, end_dropped = end_of_suite_lane(
                    medians,
                    runs,
                    base_medians,
                    _rerun,
                    lambda: spent <= BUDGET_SEC,
                    exclude=cold_only,
                )
            except Exception:
                end_retried, end_dropped = [], []

    total = round(sum(medians.values()), 2)
    # degraded = budget-forced to its cold warmup sample (a warm single
    # run is by-design, not degraded)
    degraded = sorted(cold_only)
    # contention self-diagnosis: total over the queries SHARED with the
    # committed baseline, as a ratio. A clean run sits near 1.0; a run
    # contended by another JVM (or a cold-degraded cascade) reads well
    # above it — the recorded JSON then explains itself instead of
    # looking like a 1.4x regression (observed: 254 s contended vs
    # 183 s clean on identical code).
    vs_baseline = None
    try:
        base = json.loads(
            (Path(__file__).resolve().parent / "tools" / "bench_baseline.json")
            .read_text()
        )
        shared = set(medians) & set(base.get("queries", {}))
        if shared and base.get("sf") == sf:
            vs_baseline = round(
                sum(medians[q] for q in shared)
                / sum(base["queries"][q] for q in shared),
                3,
            )
    except (OSError, ValueError, ZeroDivisionError):
        pass
    detail_path = Path(__file__).resolve().parent / "bench_detail.json"
    detail_path.write_text(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "runs_per_query": runs,
                "budget_sec": BUDGET_SEC,
                "degraded_queries": degraded,
                "cold_only_queries": cold_only,
                "end_retry_queries": end_retried,
                "end_retry_dropped": end_dropped,
                "vs_baseline_ratio": vs_baseline,
                "calibration_sec": calibration_sec,
                "sf": sf,
                "config": {
                    "spark_version": spark.version,
                    "master": spark.sparkContext.master,
                    "driver_memory": spark.conf.get("spark.driver.memory", None),
                    "shuffle_partitions": spark.conf.get(
                        "spark.sql.shuffle.partitions", None
                    ),
                },
            },
            indent=1,
            sort_keys=True,
        )
    )
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in medians.items()),
            key=lambda kv: -kv[1],
        )[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(medians),
                "runs": 1,
                "n_degraded": len(degraded),
                "vs_baseline_ratio": vs_baseline,
                "calibration_sec": calibration_sec,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
