#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop client over registry entries.

Run from the repository root::

    python3 perfbench/run.py --workload write_stream --seed 1 --seconds 10 --trace 0

Each run reads the repository's sf0.1 test tables (a copy is kept in
``perfbench/data/sf0.1``), starts the engine's own SparkSession on
``local[<nproc>]``, makes two discarded passes over the workload's entry pool
(codegen and JIT warm-up), then makes measured passes until ``--seconds``
have been measured. A pass runs
every pool entry once, in an order drawn from ``--seed``; entries receive
only ``(spark, sf_dir)``. Every measured request is checked against its
DuckDB oracle outside its timed interval.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer counters of the traced
passes (per pass) plus the traced-minus-untraced wall time. The last stdout
line is one JSON object; everything else goes to stderr, and a detail record
of the run (host state, per-entry latencies and counters) is written to
``.perfbench/runs/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# byte copy of the repository's sf0.1 test tables (catalog.DEFAULT_SF_DIR),
# kept here so that a run reads only inside its checkout
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# Each workload: its entry pool, and the fewest measured passes a run makes.
# The pass counts make every run of a workload take the same number of
# samples on a 4-core host (3 passes of about 7 s, 4 passes of about 4.5 s),
# so that the median and tail are taken over the same ranks in every run.
WORKLOADS = {
    # txlog commits, deletion vectors and micro-batches run in the entry body
    "write_stream": {
        "passes": 3,
        "pool": ["q187_stream_cdc_upsert", "q148_deletion_vectors"],
    },
    # Python Arrow workers do most of the work
    "llm_pipeline": {
        "passes": 4,
        "pool": ["p_audio_decode", "p_knn_hnsw", "p_lang_id"],
    },
}
END_TO_END = {
    "entries_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ok_frac": "fraction",
    "setup_s": "s",
}
# A run never starts a new pass after MAX_MEASURE_S of measured time, so
# that it ends well inside the 180 s a run may take even on a slow host.
MAX_MEASURE_S = 90.0
# Discarded passes before the measured ones. After a single pass the JIT is
# still warming: the first measured pass was 10-25% slower than the later ones.
WARMUP_PASSES = 2


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least 10 of ``n`` samples above it.

    ``None`` below 20 samples, where that percentile would not be above the
    median; see ``tail_latency``."""
    if n < 20:
        return None
    return 100 * (n - 10) // n


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-pct * len(ordered) // 100))  # ceil
    return ordered[rank - 1]


def tail_latency(per_entry: dict[str, list[float]]) -> float:
    """Tail latency of a run, from its per-entry latencies.

    With at least 20 samples: the ``tail_percentile`` of all of them. With
    fewer, no percentile has 10 samples above it without falling to the
    median, so the tail is the median latency of the slowest entry: the
    typical wait for the slowest kind of request."""
    values = [v for vs in per_entry.values() for v in vs]
    pct = tail_percentile(len(values))
    if pct is not None:
        return percentile(values, pct)
    return max(statistics.median(vs) for vs in per_entry.values() if vs)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_state() -> dict:
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg(),
        # all CPU time, and the part the hypervisor gave to other guests
        "cpu_ticks": sum(ticks[:8]),
        "steal_ticks": ticks[7],
    }


class Oracle:
    """Expected rows of each entry, from its DuckDB oracle, computed once."""

    def __init__(self, sf_dir: str):
        from hive_clone_spark import registry
        from tests import oracle_utils

        registry.load_all_modules()
        self._sql = registry.ORACLE
        self._utils = oracle_utils
        self._sf_dir = sf_dir
        self._expected: dict[str, list[tuple[str, ...]]] = {}

    def prepare(self, name: str) -> None:
        if name not in self._expected:
            df = self._utils.run_oracle(self._sql[name], self._sf_dir).fetchdf()
            self._expected[name] = self._utils._canon_rows(df)

    def check(self, name: str, columns: list[str], rows: list) -> bool:
        """True when the collected rows equal the oracle's rows.

        Canonicalization is the repository's own oracle gate: columns
        sorted by name, every cell normalized, rows sorted."""
        import pandas as pd

        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        return self._utils._canon_rows(got) == self._expected[name]


class Run:
    """Measured requests of one run: latencies, failures, traced counters."""

    def __init__(self, pool: list[str], seed: int, sf_dir: str):
        self.pool = pool
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.latencies: list[float] = []
        self.per_entry: dict[str, list[float]] = {n: [] for n in self.pool}
        self.traced: dict[str, list[dict]] = {n: [] for n in self.pool}
        self.failures: list[dict] = []
        self.attempted = 0

    def request(self, spark, fn, tracer=None):
        """One entry call plus ``.collect()``: (frame, rows, latency, marks)."""
        marks = [tracer.mark()] if tracer else None
        t0 = time.perf_counter()
        df = fn(spark, self.sf_dir)
        if tracer:
            marks.append(tracer.mark())
        rows = df.collect()
        latency = time.perf_counter() - t0
        if tracer:
            marks.append(tracer.mark())
        return df, rows, latency, marks

    def measured_pass(self, spark, registry, oracle, tracer=None) -> float:
        """Run the pool once in a seeded order; return wall time without checks."""
        order = self.rng.sample(self.pool, len(self.pool))
        wall = 0.0
        if tracer:
            tracer.start_pass()
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df, rows, latency, marks = self.request(spark, registry.QUERIES[name], tracer)
                if tracer:
                    self.traced[name].append(tracer.record(df, *marks))
            except Exception as e:  # a failing entry is counted, not fatal
                wall += time.perf_counter() - t0
                self.failures.append({"entry": name, "error": repr(e)[:500]})
                print(f"[perfbench] {name} raised: {e!r}"[:800], file=sys.stderr)
                continue
            wall += time.perf_counter() - t0
            if oracle.check(name, df.columns, rows):
                self.latencies.append(latency)
                self.per_entry[name].append(latency)
            else:
                self.failures.append({"entry": name, "error": "oracle mismatch"})
                print(f"[perfbench] {name}: output differs from its oracle", file=sys.stderr)
        if tracer:
            tracer.end_pass()
        return wall


def quiet(spark) -> None:
    """Silence the per-query WindowExec warning in this process only."""
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", jvm.org.apache.logging.log4j.Level.ERROR
    )


def calibration_probe(spark, sf_dir: str) -> float:
    """``bench.py``'s machine-speed probe: warm lineitem+events counts.

    Recorded so a throttled run can explain itself; never used to rescale."""
    for t in ("lineitem", "events"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    t0 = time.perf_counter()
    for t in ("lineitem", "events"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # a later get_spark in this process then launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # stdout carries only the result line: everything the engine, the JVM
    # or the entries print goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    for need in ("hive_clone_spark/registry.py", "tests/oracle_utils.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"[perfbench] {need} not found under {ROOT}", file=sys.stderr)
            return 2
    if not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")):
        print(f"[perfbench] test tables not found under {SF_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # every scratch file the run makes stays inside the checkout
    pid = os.getpid()
    scratch = os.path.join(WORK, "tmp", str(pid))
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={scratch} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    workload = WORKLOADS[args.workload]
    run = Run(workload["pool"], args.seed, SF_DIR)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "pool": run.pool, "host_before": host_state()}
    spark = None
    try:
        # -- set-up, from process start: imports, get_spark, discarded passes
        from hive_clone_spark import registry
        from hive_clone_spark.session import get_spark

        registry.load_all_modules()
        t_session = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=detail["host_before"]["nproc"])
        session_start_s = time.perf_counter() - t_session
        quiet(spark)
        for _ in range(WARMUP_PASSES):
            for name in run.pool:
                try:
                    registry.QUERIES[name](spark, run.sf_dir).collect()
                except Exception as e:  # the measured passes count it
                    print(f"[perfbench] warm-up {name} raised: {e!r}"[:800], file=sys.stderr)

        # the benchmark's own probe, oracles and tracer are not set-up time
        t_own = time.perf_counter()
        detail["calibration_sec"] = calibration_probe(spark, run.sf_dir)
        oracle = Oracle(run.sf_dir)
        for name in run.pool:
            oracle.prepare(name)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = None
        if args.trace:
            import layers

            tracer = layers.Tracer(spark, jvm_pid)
        detail["benchmark_own_s"] = own_s = time.perf_counter() - t_own
        setup_s = time.perf_counter() - T0 - own_s

        # -- measured passes ------------------------------------------------
        walls = {"untraced": [], "traced": []}
        measured = 0.0
        while True:
            traced = bool(tracer) and len(walls["untraced"]) > len(walls["traced"])
            wall = run.measured_pass(spark, registry, oracle, tracer if traced else None)
            walls["traced" if traced else "untraced"].append(wall)
            measured += wall
            done = len(walls["untraced"]) + len(walls["traced"])
            balanced = not tracer or len(walls["untraced"]) == len(walls["traced"])
            enough = done >= workload["passes"] and measured >= args.seconds
            if balanced and (enough or measured >= MAX_MEASURE_S):
                break

        detail["peak_rss_mb"] = peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_spark(spark)
        for d in glob.glob(os.path.join(ROOT, "spark-warehouse", "*", f"*-{pid}")):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)

    # -- report ---------------------------------------------------------------
    failed = len(run.failures)
    n = len(run.latencies)
    tail_pct = tail_percentile(n)
    before, after = detail["host_before"], host_state()
    detail.update(
        host_after=after,
        steal_frac=(after["steal_ticks"] - before["steal_ticks"])
        / max(after["cpu_ticks"] - before["cpu_ticks"], 1),
        passes={k: len(v) for k, v in walls.items()},
        pass_walls=walls,
        samples=n,
        tail_percentile=tail_pct or "median of slowest entry",
        failed_frac=failed / max(run.attempted, 1),
        failures=run.failures,
        per_entry_latency_s=run.per_entry,
    )
    if args.trace:
        passes = len(walls["traced"])
        totals = {k: 0.0 for k in layers.PER_LAYER}
        for counters in run.traced.values():
            for c in counters:
                for k, v in c.items():
                    totals[k] += v / passes
        totals["session.start_s"] = session_start_s
        totals["mem.peak_rss_mb"] = peak_rss_mb
        u, t = sum(walls["untraced"]), sum(walls["traced"])
        totals["trace.overhead_pct"] = 100.0 * (t - u) / u
        detail["per_entry_counters"] = run.traced
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in totals.items()}
    else:
        wall = sum(walls["untraced"])
        values = {
            "entries_per_s": n / wall,
            "latency_p50_s": statistics.median(run.latencies) if n else 0.0,
            "latency_tail_s": tail_latency(run.per_entry) if n else 0.0,
            "ok_frac": n / max(run.attempted, 1),
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    detail["metrics"] = metrics

    runs_dir = os.path.join(WORK, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    path = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    print(
        f"[perfbench] setup {setup_s:.1f}s, measured {measured:.1f}s, "
        f"run {time.perf_counter() - T0:.1f}s; detail: {path}",
        file=sys.stderr,
    )

    result = {"correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": metrics}
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
