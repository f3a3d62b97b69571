"""Watermark-semantics tests: these pin the *streaming-only* behaviors
(late-data dropping, cross-batch dedup) that the batch twins cannot
express — fed with hand-built micro-batches so arrival order is exact.

Each test writes parquet files into a source dir with controlled
mtimes (maxFilesPerTrigger=1 → one micro-batch per file, processed in
mtime order) and drains with the availableNow trigger.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_clone_spark.streaming import streams


def _write_batch(spark, out_dir: str, idx: int, rows: list[tuple]) -> None:
    """One micro-batch file: (event_id, user_id, event_type, ts, value)."""
    df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
    stage = f"{out_dir}/_stage{idx}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    import glob
    import shutil

    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dst = f"{out_dir}/{idx:03d}.parquet"
    shutil.copy(part, dst)
    os.utime(dst, (1_700_000_000 + idx, 1_700_000_000 + idx))
    shutil.rmtree(stage)


def _ts(s: str):
    import datetime as dt

    return dt.datetime.fromisoformat(s)


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """An event arriving after the watermark passed its window is
    dropped: batch 1 advances the watermark far past 10:00; batch 2's
    straggler for 10:00 must not resurrect the closed window."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    _write_batch(
        spark, src, 0,
        [
            (1, 1, "click", _ts("2024-01-01 10:00:10"), 1.0),
            (2, 1, "click", _ts("2024-01-01 10:00:20"), 1.0),
        ],
    )
    # watermark delay is 10 min: 13:00 − 10 min = 12:50 ≫ window [10:00, 11:00)
    _write_batch(spark, src, 1, [(3, 1, "click", _ts("2024-01-01 13:00:00"), 1.0)])
    # the filter watermark lags one batch behind the data that advanced
    # it (wm for batch N comes from batches < N), so give it one more
    # batch to take effect before the straggler arrives
    _write_batch(spark, src, 2, [(6, 1, "click", _ts("2024-01-01 13:30:00"), 1.0)])
    # straggler for the long-closed 10:00 window — must be dropped
    _write_batch(spark, src, 3, [(4, 1, "click", _ts("2024-01-01 10:00:30"), 1.0)])
    # one more batch so the final watermark finalizes the 13:00 window too
    _write_batch(spark, src, 4, [(5, 1, "click", _ts("2024-01-01 15:00:00"), 1.0)])

    streams.run_to_memory(
        streams.tumbling_counts(streams.read_events_stream(spark, src)),
        "late_sink",
        output_mode="append",
    )
    got = {
        (str(r.window_start), r.n_events)
        for r in spark.table("late_sink").collect()
    }
    # the 10:00 window was emitted with 2 events when the watermark
    # crossed it; the straggler (event 4) was dropped, never re-emitted
    assert ("2024-01-01 10:00:00", 2) in got
    assert ("2024-01-01 10:00:00", 3) not in got
    # 13:00 window (events 3 and 6) finalized by the 15:00 batch
    assert ("2024-01-01 13:00:00", 2) in got


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same event_id arriving again
    in a later micro-batch (within the watermark horizon) is dropped —
    cross-batch state the batch dropDuplicates doesn't need."""
    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    _write_batch(
        spark, src, 0,
        [
            (1, 1, "click", _ts("2024-01-01 10:00:00"), 1.0),
            (2, 1, "click", _ts("2024-01-01 10:00:05"), 1.0),
        ],
    )
    # same event_ids again, slightly later timestamps, plus one new id
    _write_batch(
        spark, src, 1,
        [
            (1, 1, "click", _ts("2024-01-01 10:00:30"), 1.0),
            (2, 1, "click", _ts("2024-01-01 10:00:35"), 1.0),
            (3, 1, "click", _ts("2024-01-01 10:01:00"), 1.0),
        ],
    )

    deduped = (
        streams.read_events_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id")
    )
    streams.run_to_memory(deduped, "dedup_sink", output_mode="append")
    got = sorted(r.event_id for r in spark.table("dedup_sink").collect())
    assert got == [1, 2, 3]


@pytest.mark.parametrize("how", ["inner", "left_semi"])
def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path, how):
    """Stream-stream time-bounded join drained with availableNow equals
    the batch interval join of the same type on the same rows: for
    left_semi, each click with at least one match, once."""
    import glob
    import shutil

    from hive_clone_spark.catalog import table

    src = str(tmp_path / "ssj_src")
    os.makedirs(src)
    e = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .where(F.col("user_id") <= 50)  # keep state small for the test
    )
    stage = str(tmp_path / "ssj_stage")
    e.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{src}/000.parquet")

    stream = streams.read_events_stream(spark, src)
    joined = streams.click_purchase_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        how=how,
    )
    streams.run_to_memory(joined, f"ssj_sink_{how}", output_mode="append")
    got = sorted(tuple(map(str, r)) for r in spark.table(f"ssj_sink_{how}").collect())

    batch = spark.read.schema(streams.EVENTS_SCHEMA).parquet(src)
    bc = batch.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = batch.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cols = ["click_id", "user_id", "click_ts"]
    if how == "inner":
        cols += ["purchase_id", "purchase_ts", "purchase_value"]
    want = sorted(
        tuple(map(str, r))
        for r in bc.join(
            bp,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            how,
        )
        .select(cols)
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static dimension enrichment drained with availableNow
    equals the same batch left join (including NULL-segment rows for
    users with no dimension entry)."""
    import glob
    import shutil

    from hive_clone_spark.catalog import table

    src = str(tmp_path / "ss_src")
    os.makedirs(src)
    e = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .where(F.col("user_id") <= 200)
    )
    stage = str(tmp_path / "ss_stage")
    e.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{src}/000.parquet")

    dim = table(spark, sf_dir, "customer")

    stream = streams.read_events_stream(spark, src)
    streams.run_to_memory(
        streams.enrich_with_dim(stream, dim), "ss_sink", output_mode="append"
    )
    got = {tuple(map(str, r)) for r in spark.table("ss_sink").collect()}

    batch = spark.read.schema(streams.EVENTS_SCHEMA).parquet(src)
    want = {
        tuple(map(str, r))
        for r in streams.enrich_with_dim(batch, dim).collect()
    }
    assert got == want
    # the unknown-user case actually occurs (left-join semantics pinned)
    assert any(r[-1] == "None" for r in got) or all(r[-1] != "None" for r in want)


def test_foreach_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch idempotent sink: (a) the drained output equals the
    source rows; (b) re-running a batch (the at-least-once replay case)
    leaves the output unchanged — overwrite-by-batch-id absorbs it."""
    import glob
    import shutil

    from hive_clone_spark.catalog import table

    src = str(tmp_path / "fb_src")
    os.makedirs(src)
    e = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .where(F.col("user_id") <= 100)
    )
    stage = str(tmp_path / "fb_stage")
    e.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{src}/000.parquet")

    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    streams.write_stream_exactly_once(
        streams.read_events_stream(spark, src), out, ckpt
    )

    def read_all():
        return {
            tuple(map(str, r))
            for r in spark.read.schema(streams.EVENTS_SCHEMA)
            .parquet(f"{out}/batch_id=*")
            .collect()
        }

    want = {tuple(map(str, r)) for r in e.collect()}
    got = read_all()
    assert got == want

    # replay batch 0 by hand (what a post-failure restart does before
    # the checkpoint says the batch is committed): output must not grow
    batch0 = spark.read.schema(streams.EVENTS_SCHEMA).parquet(f"{src}/000.parquet")
    batch0.write.mode("overwrite").parquet(f"{out}/batch_id=0")
    assert read_all() == want


def test_session_ttl_state_is_evicted_and_bounded(spark):
    """q94's TTL eviction is real at the state-store level: after the
    drain, the store holds EXACTLY the users whose final session is
    still inside the TTL horizon (every settled user's key was removed
    by the timeout), so state is bounded by active users, not history."""
    from pyspark.sql import functions as F

    from hive_clone_spark.streaming.stateful import (
        _SESS_TTL_US,
        session_ttl_stream,
    )
    from hive_clone_spark.streaming.streams import (
        events_path,
        read_events_stream,
        run_to_memory,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = "/root/testdata/sf0.001"
    src = read_events_stream(
        spark, events_path(sf_dir), max_files_per_trigger=None
    )
    q = run_to_memory(
        session_ttl_stream(src.withWatermark("ts", "10 minutes")),
        "q94_state_test",
        output_mode="append",
    )
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    ev = spark.read.parquet(sf_dir + "/events.parquet")
    per_user_last = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    wm_ms = (
        ev.agg(F.max("ts")).collect()[0][0].timestamp() * 1000 - 600_000
    )
    still_open = per_user_last.where(
        (F.unix_timestamp("last_ts") * 1000 + _SESS_TTL_US // 1000) >= wm_ms
    ).count()
    n_users = per_user_last.count()
    assert state_rows == still_open
    assert state_rows < n_users  # eviction actually removed keys
