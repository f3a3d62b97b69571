"""Bench regression gate (tools/bench_gate.py) + performance-posture
assertions: the gate's counter checks and wall-time advisories, the
committed baseline snapshot's integrity and the committed run passing it,
AQE skew-join being on in the tuned session, and q37's salt surviving in
the physical join keys.
"""

from __future__ import annotations

import json
from pathlib import Path

from tools import bench_gate
from tools.bench_gate import ABS_FLOOR_SEC, GATED, THRESHOLD, advisories, compare

REPO = Path(__file__).resolve().parents[1]
WORK = {"body.sql_execs": 3, "body.jobs": 9, "collect.jobs": 8, "body.stages": 9,
        "collect.stages": 8, "txlog.commits": 3}


def _detail(queries, sf=0.1, cold=(), **work_changes):
    """A run (or baseline) over ``queries``: wall medians plus a trace
    record (and ``work`` entry) of WORK for every entry not in ``cold``.
    ``work_changes`` maps an entry to counter overrides for its trace."""
    trace = {n: {**WORK, "body.s": v / 2, "collect.s": v / 2, **work_changes.get(n, {})}
             for n, v in queries.items() if n not in cold}
    return {"queries": queries, "sf": sf, "cold_only_queries": list(cold), "trace": trace,
            "work": bench_gate.snapshot_work({"trace": trace})}


def _many(n, wall=2.0):
    return {f"q{i}": wall for i in range(n)}


def test_gate_passes_identical_run():
    base = _detail({"q1": 1.0, "q2": 4.0})
    assert compare(_detail({"q1": 1.0, "q2": 4.0}), base) == []


def test_gate_flags_one_extra_body_job():
    base = _detail({"q1": 1.0, "q2": 4.0})
    out = compare(_detail({"q1": 1.0, "q2": 4.0}, q2={"body.jobs": 10}), base)
    assert out == ["q2: work grew: body.jobs 9->10"]


def test_gate_passes_fewer_jobs():
    base = _detail({"q1": 1.0})
    fewer = _detail({"q1": 1.0}, q1={"body.jobs": 7, "body.sql_execs": 2, "stream.batches": 0})
    assert compare(fewer, base) == []


def test_gate_ignores_ungated_counters():
    """tasks and bytes move with the core count and from run to run."""
    base = _detail({"q1": 1.0})
    run = _detail({"q1": 1.0}, q1={"collect.tasks": 64, "collect.shuffle_bytes": 1e9})
    assert "collect.tasks" not in GATED and compare(run, base) == []


def test_gate_flags_large_regression():
    """A 3.5x wall regression on one entry is advised, never failed."""
    base = _detail(_many(30))
    run = _detail({**_many(30), "q2": 7.0})
    assert compare(run, base) == []
    out = advisories(run, base)
    assert [a.split(":")[0] for a in out] == ["q2"]


def test_gate_wall_only_slowdown_exits_zero_with_advisory(tmp_path, monkeypatch, capsys):
    base, run = tmp_path / "base.json", tmp_path / "run.json"
    base.write_text(json.dumps(_detail(_many(30))))
    run.write_text(json.dumps(_detail({**_many(30), "q5": 6.0})))
    monkeypatch.setattr("sys.argv", ["bench_gate.py", str(run), str(base)])
    assert bench_gate.main() == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln for ln in lines if ln.startswith("ADVISORY")] == [
        "ADVISORY q5: 6.00s vs baseline 2.00s (3.00x, threshold 1.50x at median ratio 1.00)"
    ]
    assert lines[-1].startswith("bench gate pass")


def test_gate_total_compares_shared_queries_only():
    """New entries, however slow, neither advise nor move the median ratio
    the shared entries are judged by."""
    base = _detail(_many(30))
    grown = _detail({**_many(30), **{f"new{i}": 30.0 for i in range(40)}})
    assert compare(grown, base) == [] and advisories(grown, base) == []


def test_gate_ignores_subsecond_jitter():
    """A 0.1s -> 0.4s blip is 4x but under the absolute floor: noise,
    not a plan regression."""
    base = _detail({**_many(30), "tiny": 0.1})
    assert ABS_FLOOR_SEC > 0.3
    assert advisories(_detail({**_many(30), "tiny": 0.4}), base) == []


def test_gate_self_normalizes_by_median_shared_ratio():
    """A uniform machine-speed shift moves the median ratio and with it
    the advisory threshold; one slow entry cannot move the median."""
    base = _detail(_many(30))
    epoch = _detail({**_many(30, 2.4), "q0": 3.7})  # 1.85x raw, 1.54x of the 1.2x epoch
    assert [a.split(":")[0] for a in advisories(epoch, base)] == ["q0"]
    epoch = _detail({**_many(30, 2.4), "q0": 3.5})  # 1.46x of the epoch
    assert advisories(epoch, base) == []


def test_gate_cold_only_entry_needs_no_trace():
    base = _detail({"q1": 1.0, "q2": 4.0})
    assert compare(_detail({"q1": 1.0, "q2": 40.0}, cold=["q2"]), base) == []
    warm = _detail({"q1": 1.0, "q2": 4.0})
    del warm["trace"]["q2"]
    assert compare(warm, base) == ["q2: no trace record"]


def test_gate_flags_missing_query():
    base = _detail({"q1": 1.0, "q2": 4.0})
    out = compare(_detail({"q1": 1.0}), base)
    assert out == ["q2: present in baseline but missing from run"]


def test_gate_allows_new_queries():
    base = _detail({"q1": 1.0})
    assert compare(_detail({"q1": 1.0, "brand_new": 60.0}), base) == []


def test_gate_rejects_sf_mismatch():
    base = _detail({"q1": 1.0}, sf=0.1)
    out = compare(_detail({"q1": 1.0}, sf=0.01), base)
    assert len(out) == 1 and "sf mismatch" in out[0]


def test_committed_baseline_snapshot_is_usable():
    """The checked-in snapshot must stay a valid gate reference: parses,
    carries the full query set at the bench sf, sane medians, and a work
    record for every bench entry."""
    from hive_clone_spark import registry

    base = json.loads((REPO / "tools" / "bench_baseline.json").read_text())
    assert base["sf"] == 0.1
    assert len(base["queries"]) >= 90
    assert all(0 < v < 60 for v in base["queries"].values())
    assert THRESHOLD >= 1.2  # advisory flags a regression, not noise
    registry.load_all_modules()
    bench = {n for n in registry.QUERIES if not n.startswith("g_")}
    assert bench <= set(base["work"])
    assert all(set(w) == set(GATED) for w in base["work"].values())


def test_gate_green_on_committed_artifacts():
    """compare() on the committed bench_detail.json vs the committed
    baseline: the CLI gate on the repo's own artifacts, run in CI. The two
    come from different bench runs, so this also checks that the gated
    counters repeat."""
    run = json.loads((REPO / "bench_detail.json").read_text())
    base = json.loads((REPO / "tools" / "bench_baseline.json").read_text())
    problems = compare(run, base)
    assert problems == [], (
        "committed bench_detail.json does more work than tools/bench_baseline.json — "
        "fix the entry or re-snapshot honestly:\n" + "\n".join(problems)
    )


def test_aqe_and_skew_join_enabled(spark):
    """The tuned session must keep runtime skew handling on — the
    100 TB answer to hot keys the salt doesn't cover."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_salted_join_salt_survives_in_plan(spark):
    """q37's manual salting must reach the physical join: both join key
    lists carry the salt column next to the hot key, so the hot key's
    rows actually spread over SALT sub-partitions."""
    import re

    from hive_clone_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["q37_salted_join"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    key_lines = [
        ln for ln in plan.splitlines() if re.search(r"(Left|Right) keys \[", ln)
    ]
    assert len(key_lines) >= 2, plan
    for ln in key_lines:
        assert "salt" in ln and "hot_key" in ln, ln
