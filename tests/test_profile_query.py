"""tools/profile_query.py: the single-task-bound flag rule (Spark-free), and
the Tracer attribution it relies on (sf0.001): only stages that ran are
counted, and jobs submitted from helper threads belong to the body.
"""

from __future__ import annotations

import pytest

from tools import profile_query


def _row(wall: float, stages: int, single: int) -> dict:
    # split across both phases, as Tracer reports them
    return {
        "body.s": wall / 2, "collect.s": wall / 2,
        "body.stages": stages - stages // 2, "collect.stages": stages // 2,
        "body.single_task_stages": single - single // 2,
        "collect.single_task_stages": single // 2,
    }


def test_flag_needs_a_slow_single_task_bound_request():
    assert profile_query.flag(_row(2.0, 4, 2), 1.5)  # half single-task
    assert profile_query.flag(_row(2.0, 3, 3), 1.5)  # all single-task
    assert not profile_query.flag(_row(2.0, 5, 2), 1.5)  # mostly parallel
    assert not profile_query.flag(_row(1.0, 4, 4), 1.5)  # fast
    assert not profile_query.flag(_row(2.0, 0, 0), 1.5)  # no stage ran
    # Tracer leaves out counters of a phase that ran no stage
    assert profile_query.flag({"body.s": 3.0, "body.stages": 1.0, "body.single_task_stages": 1.0}, 1.5)


def test_bench_and_profiler_share_the_perfbench_probe():
    import bench
    from perfbench import run

    assert bench.calibration_probe is profile_query.calibration_probe is run.calibration_probe
    assert bench.quiet is profile_query.quiet is run.quiet


@pytest.fixture(scope="module")
def tracer(spark):
    t = profile_query.layers.Tracer(spark, spark._jvm.java.lang.ProcessHandle.current().pid())
    yield t
    spark.streams.removeListener(t._streams)


def test_reused_shuffle_counts_only_the_stages_that_ran(spark, sf_dir, tracer):
    from hive_clone_spark.catalog import table

    df = table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    row = profile_query.profile(spark, tracer, lambda s, d: df, sf_dir)
    # the warm-up ran the shuffle; the traced collect reuses its output
    assert row["body.jobs"] == 0 and row["collect.jobs"] >= 1
    last_jobs = range(dag.nextJobId() - int(row["collect.jobs"]), dag.nextJobId())
    st = spark.sparkContext.statusTracker()
    listed = {sid for j in last_jobs for sid in st.getJobInfo(j).stageIds}
    # a job lists its skipped map stage too; counting that list (as a
    # StatusTracker audit does) overstates the stages that ran
    assert len(listed) == row["collect.stages"] + 1


def test_jobs_from_helper_threads_count_in_the_body(spark, sf_dir, tracer):
    from hive_clone_spark import registry

    registry.load_all_modules()
    # q208 submits its scans from a ThreadPoolExecutor
    row = profile_query.profile(spark, tracer, registry.QUERIES["q208_key_discovery"], sf_dir)
    assert row["body.jobs"] > 0
    assert row["body.sql_execs"] == len(row["body.sql"]) > 0
