"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

They read the repository's sf0.01 test tables, as the suite under
``tests/`` does, and are skipped where those are absent. The oracle tests
need only DuckDB; the counter test starts a local Spark session (about a
minute).
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run as bench  # noqa: E402
from hive_clone_spark import catalog  # noqa: E402

ENTRY = "q06_forecast_revenue"  # small single-row aggregate
TESTDATA = os.path.dirname(catalog.DEFAULT_SF_DIR)
CORRECTNESS_SF = os.environ.get("SPARK_GRAFT_TEST_SF", os.path.join(TESTDATA, "sf0.01"))


@pytest.fixture(scope="module")
def sf_dir():
    if not os.path.exists(os.path.join(CORRECTNESS_SF, "lineitem.parquet")):
        pytest.skip(f"no test tables at {CORRECTNESS_SF}")
    return CORRECTNESS_SF


def test_benchmark_tables_are_the_repository_test_tables():
    """perfbench/data/sf0.1 is a byte copy of the catalog's default tables."""
    src = os.path.join(TESTDATA, "sf0.1")
    if not os.path.isdir(src):
        pytest.skip(f"no test tables at {src}")
    names = sorted(f"{t}.parquet" for t in catalog.TABLES)
    assert sorted(os.listdir(bench.SF_DIR)) == names
    match, mismatch, errors = filecmp.cmpfiles(src, bench.SF_DIR, names, shallow=False)
    assert (mismatch, errors) == ([], [])


class _Frame:
    """Stands in for a DataFrame: the runner only reads columns and collect()."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class _Registry:
    def __init__(self, frame):
        self.QUERIES = {ENTRY: lambda spark, sf_dir: frame}


def _oracle_frame(oracle, sf_dir):
    df = oracle._utils.run_oracle(oracle._sql[ENTRY], sf_dir).fetchdf()
    return list(df.columns), [tuple(r) for r in df.itertuples(index=False, name=None)]


def _measure(frame, oracle, sf_dir):
    run = bench.Run([ENTRY], seed=1, sf_dir=sf_dir)
    run.measured_pass(None, _Registry(frame), oracle)
    return run


def test_oracle_rows_pass(sf_dir):
    oracle = bench.Oracle(sf_dir)
    oracle.prepare(ENTRY)
    run = _measure(_Frame(*_oracle_frame(oracle, sf_dir)), oracle, sf_dir)
    assert (run.attempted, run.failures, len(run.latencies)) == (1, [], 1)


def test_perturbed_result_counts_as_failed(sf_dir):
    oracle = bench.Oracle(sf_dir)
    oracle.prepare(ENTRY)
    columns, rows = _oracle_frame(oracle, sf_dir)
    first = list(rows[0])
    first[0] = first[0] + 0.01  # one cent off in the single revenue cell
    run = _measure(_Frame(columns, [tuple(first)] + rows[1:]), oracle, sf_dir)
    assert run.attempted == 1
    assert run.failures == [{"entry": ENTRY, "error": "oracle mismatch"}]
    assert run.latencies == []


def test_raising_entry_counts_as_failed(sf_dir):
    class Boom:
        columns = []

        def collect(self):
            raise RuntimeError("boom")

    oracle = bench.Oracle(sf_dir)
    oracle.prepare(ENTRY)
    run = _measure(Boom(), oracle, sf_dir)
    assert run.attempted == 1 and run.failures[0]["entry"] == ENTRY


def test_tail_percentile_keeps_ten_samples_above():
    assert bench.tail_percentile(19) is None
    assert bench.tail_percentile(100) == 90
    assert bench.tail_percentile(1000) == 99
    values = list(range(1, 101))
    assert sum(v > bench.percentile(values, 90) for v in values) == 10
    assert bench.tail_latency({"a": values[:50], "b": values[50:]}) == 90


def test_tail_of_few_samples_is_slowest_entry_median():
    assert bench.tail_latency({"a": [1.0, 1.2, 9.0], "b": [2.0, 2.2, 2.1]}) == 2.1


def test_sql_metric_total_parses_display_strings():
    assert layers.sql_metric_total("3 ms") == 3.0
    text = "total (min, med, max (stageId: taskId))\n11.8 s (503 ms, 2.2 s, 2.5 s (stage 8.0: task 7))"
    assert layers.sql_metric_total(text) == 11800.0
    assert layers.sql_metric_total("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB)") == 2048.0


def test_counters_of_write_entries_repeat_exactly(sf_dir):
    """Two traced runs of the write_stream pool give the same work counters
    per entry; each run warms up, then makes one traced pass."""
    from hive_clone_spark import registry
    from hive_clone_spark.session import get_spark

    registry.load_all_modules()
    pool = bench.WORKLOADS["write_stream"]["pool"]
    oracle = bench.Oracle(sf_dir)
    for name in pool:
        oracle.prepare(name)
    traced = []
    for _ in range(2):
        spark = get_spark(app_name="perfbench-test", cpus=2)
        try:
            for name in pool:
                registry.QUERIES[name](spark, sf_dir).collect()  # warm-up
            tracer = layers.Tracer(spark, spark._jvm.java.lang.ProcessHandle.current().pid())
            run = bench.Run(pool, seed=1, sf_dir=sf_dir)
            run.measured_pass(spark, registry, oracle, tracer)
        finally:
            bench.stop_spark(spark)
        assert run.failures == []
        traced.append({name: run.traced[name][0] for name in pool})
    first, second = traced
    assert sum(c["txlog.commits"] for c in first.values()) >= 1
    assert sum(c["stream.batches"] for c in first.values()) >= 1
    for name in pool:
        assert first[name]["body.sql_execs"] >= 1 and first[name]["collect.jobs"] >= 1
        exact = [{k: t[name].get(k) for k in layers.EXACT_KEYS} for t in traced]
        assert exact[0] == exact[1], name
