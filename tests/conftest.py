"""Shared pytest fixtures: one SparkSession per test session.

Also implements the DRIVER-VERIFY FAST LANE (round-14, verdict item 3):
the round-13 driver verify truncated a zero-failure full suite at ~52%
because the suite (1374 tests, 37-54 min depending on host epoch) no
longer fits the driver's ~25 min budget. The fix is a two-lane split,
not weaker tests: a small, EXPLICITLY LISTED set of whale tests — each
measured with `--durations` on a full green run, and each re-executing
an expensive entry body (hive-game playouts, BPE training, audio
codecs) that the driver's own rotating oracle gate and the remaining
fast-lane tests also cover — is skipped unless SPARK_GRAFT_FULL_SUITE=1.
The builder runs the FULL suite (env set) before closing a round; the
driver's budgeted `pytest tests/ -x -q` gets the fast lane and
finishes with 0 failures instead of a truncation. Measured on the
round-14 profiling run: whales below total ~24 min of a 54-min suite.
Every run ends with a terminal-summary line naming how many slow-lane
tests it skipped, so a fast-lane run is never mistaken for a full one.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
CORRECTNESS_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

# Whale tests (node name, with param for parametrized ones) and their
# measured call time on the round-14 full-suite profiling run
# (--durations=80, throttled epoch — relative cost is what matters).
# Every entry here remains covered: oracle whales by the driver's own
# rotating 50-query DuckDB gate (and by SPARK_GRAFT_FULL_SUITE runs),
# game/BPE whales by the fast-lane unit tests over the same engine
# code, plan-audit whales by the committed plans/ files the audits
# were minted from.
_SLOW_LANE = {
    # hive_game property/integration playouts (full games through Spark)
    "test_game_properties.py::test_move_set_invariant_under_id_relabeling",  # 158.9s
    "test_game_properties.py::test_moves_preserve_one_hive_and_target_rules",  # 129.7s
    "test_game_properties.py::test_seeded_random_playout_full_lifecycle",  # 42.4s
    "test_game_integration.py::test_scripted_opening",  # 76.2s
    "test_game_integration.py::test_full_game_to_blackwins",  # 61.2s
    "test_game_integration.py::test_play_game_rejects_illegal_plies",  # 60.6s
    "test_game_integration.py::test_full_game_to_draw",  # 49.7s
    "test_game_rules.py::test_legal_moves_all_matches_per_piece",  # 53.8s
    "test_game_rules.py::test_ant_perimeter_bounded",  # 26.2s
    # BPE delta-vs-full equivalence over 64 merge rounds
    "test_bpe.py::test_delta_bpe_matches_full_recount_over_64_merges",  # 88.0s
    # Hypothesis model-based DML suite (verdict item 3: property suites
    # are their own lane; the deterministic DML tests stay fast-lane)
    "test_sql_dml_properties.py::test_merge_cascade_matches_reference_model",  # 37.0s
    # plan audits whose ENTRY CONSTRUCTION executes heavy actions
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[p_bpe_apply]",  # 72.7s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[g_spider_moves]",  # 51.5s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[p_bpe_train]",  # 30.7s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[g_legal_moves_all]",  # 27.8s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[p_dedup_incremental]",  # 15.1s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[q217_stream_checkpoint_restart]",  # 14.8s
    "test_plan_audit.py::test_plan_has_no_scale_antipatterns[q228_stream_composite_state]",  # 13.4s
    # oracle replays of the same heavy entry bodies
    "test_relational_oracle.py::test_query_matches_oracle[p_bpe_apply]",  # 45.3s
    "test_relational_oracle.py::test_query_matches_oracle[p_bpe_train]",  # 44.2s
    "test_relational_oracle.py::test_query_matches_oracle[g_legal_moves_all]",  # 42.6s
    "test_relational_oracle.py::test_query_matches_oracle[p_dedup_resolve]",  # 25.7s
    "test_relational_oracle.py::test_query_matches_oracle[p_bm25_rank]",  # 22.7s
    "test_relational_oracle.py::test_query_matches_oracle[g_grasshopper_moves]",  # 18.3s
    "test_relational_oracle.py::test_query_matches_oracle[q89_analyze_stats]",  # 16.8s
    "test_relational_oracle.py::test_query_matches_oracle[g_spider_moves]",  # 15.3s
    "test_relational_oracle.py::test_query_matches_oracle[p_audio_vad]",  # 13.4s
    "test_relational_oracle.py::test_query_matches_oracle[p_cdc_chunk]",  # 13.3s
    # engine-emission re-measurement duplicated by the q146/q162 oracle
    # entries that pin the same boundary
    "test_streaming_semantics.py::test_watermark_drops_late_rows_in_append_mode",  # 36.4s
}


_SLOW_LANE_REASON = (
    "slow lane — set SPARK_GRAFT_FULL_SUITE=1 to run "
    "(full pass only; excluded from the fast verify lane)"
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_SUITE"):
        return
    skip = pytest.mark.skip(reason=_SLOW_LANE_REASON)
    for item in items:
        name = item.nodeid.rsplit("/", 1)[-1]
        if name in _SLOW_LANE:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    # one line even under -q, so a fast-lane run never reads as full
    n = sum(
        _SLOW_LANE_REASON in str(r.longrepr)
        for r in terminalreporter.stats.get("skipped", [])
    )
    terminalreporter.write_line(
        f"slow lane: {n} tests skipped"
        + (" (set SPARK_GRAFT_FULL_SUITE=1 to run them)" if n else "")
    )


@pytest.fixture(scope="session")
def spark():
    from hive_clone_spark.session import get_spark

    spark = get_spark(app_name="hive-clone-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF
