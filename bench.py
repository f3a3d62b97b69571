"""Benchmark runner (driver contract: one JSON line on stdout).

Times each registered entry end to end (entry call + ``.collect()``) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on
local[$SPARK_GRAFT_CPUS], and records the work each one did. Spark
version, driver memory, shuffle-partition count and the machine-speed
calibration probe (``perfbench/run.py``'s ``calibration_probe``) are
recorded alongside the results.

Per entry: one discarded warm-up request, which pays whole-stage codegen
and any first-request set-up, then one measured request traced by
``perfbench/layers.Tracer``: ``Tracer.mark()`` before the entry call,
when it returns its frame (the *body*) and after ``.collect()`` (the
*collect* phase). The sample is ``body.s + collect.s`` and the entry's
trace record goes to the detail file. No request is repeated: keeping
the faster of two samples only selects on noise.

A budget (SPARK_GRAFT_BENCH_BUDGET, default 1500 s of request time)
bounds the run: once it is spent, each remaining entry's warm-up is its
only sample, untraced, and the entry is listed as degraded and
cold-only. Entries run in descending order of committed baseline median
(entries new since the snapshot first), so that tail falls on the
cheapest entries.

bench_detail.json next to this file gets every sample and every trace
record; ``tools/bench_gate.py`` gates the records' work counters against
``tools/bench_baseline.json``. stdout carries only the total, the 10
slowest entries and the ratio to the baseline over shared entries,
because a full per-entry dict overflows the driver's output-tail
capture; the per-query WindowExec warning is silenced so the captured
tail keeps that line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from hive_clone_spark import registry  # noqa: E402
from hive_clone_spark.session import get_spark  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.run import calibration_probe, quiet  # noqa: E402

# Queries excluded from the benchmark (fixture-scale demos, not data-scale).
EXCLUDE_PREFIXES = ("g_",)

# caps the run below the driver's invocation timeout
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


def traced_request(spark, tracer: layers.Tracer, fn, sf_dir: str) -> dict:
    """One request of ``fn`` bracketed by ``tracer``: its Tracer record
    plus ``body.sql``, the call site of each SQL execution the body ran."""
    tracer.start_pass()
    try:
        b0 = tracer.mark()
        df = fn(spark, sf_dir)
        b1 = tracer.mark()
        df.collect()
        b2 = tracer.mark()
    finally:
        tracer.end_pass()
    store = spark._jsparkSession.sharedState().statusStore()
    body_sql = [
        (store.execution(i).get().description() or "").replace(f"{ROOT}/", "")
        for i in range(b0["exec"], b1["exec"])
    ]
    rec = tracer.record(df, b0, b1, b2)
    return {**{k: round(v, 4) for k, v in rec.items()}, "body.sql": body_sql}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    registry.load_all_modules()
    spark, calibration_sec = _fresh_session(sf_dir)
    tracer = layers.Tracer(spark, spark._jvm.java.lang.ProcessHandle.current().pid())

    try:
        base = json.loads((ROOT / "tools" / "bench_baseline.json").read_text())
    except (OSError, ValueError):
        base = {}
    base_medians: dict[str, float] = base.get("queries", {})
    bench_names = [
        n for n in sorted(registry.QUERIES)
        if not n.startswith(EXCLUDE_PREFIXES)
    ]
    # descending known cost, entries without a baseline first (docstring)
    bench_names.sort(key=lambda n: -base_medians.get(n, float("inf")))

    times: dict[str, float] = {}
    traces: dict[str, dict] = {}
    cold_only: list[str] = []
    spent = 0.0
    for name in bench_names:
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        warm_dt = time.perf_counter() - t0
        spent += warm_dt
        if spent > BUDGET_SEC:
            cold_only.append(name)
            times[name] = round(warm_dt, 4)
            continue
        rec = traced_request(spark, tracer, fn, sf_dir)
        dt = rec["body.s"] + rec["collect.s"]
        spent += dt
        times[name] = round(dt, 4)
        traces[name] = rec

    total = round(sum(times.values()), 2)
    # ratio over the entries shared with the baseline: a clean run sits
    # near 1.0, a contended or throttled one reads well above it
    vs_baseline = None
    shared = set(times) & set(base_medians)
    if shared and base.get("sf") == sf:
        vs_baseline = round(
            sum(times[q] for q in shared) / sum(base_medians[q] for q in shared), 3
        )
    (ROOT / "bench_detail.json").write_text(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "budget_sec": BUDGET_SEC,
                "degraded_queries": sorted(cold_only),
                "cold_only_queries": cold_only,
                "trace": traces,
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
            ((k, round(v, 2)) for k, v in times.items()),
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
                "n_queries": len(times),
                "runs": 1,
                "n_degraded": len(cold_only),
                "vs_baseline_ratio": vs_baseline,
                "calibration_sec": calibration_sec,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
