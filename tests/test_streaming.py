"""Structured Streaming tests (M4): the true readStream→watermark→agg
→sink path must produce the same results as its batch twin, and the
keyed-state EMA stream must match the batch applyInPandas EMA.

Strategy: split the sf0.001 `events` parquet into several files in a
tmp dir (so maxFilesPerTrigger=1 yields multiple micro-batches), run
with the availableNow trigger into a memory sink, and compare against
the batch computation on the same rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_clone_spark.streaming import streams


def _batch_equivalent(spark, events_dir, builder):
    batch = spark.read.schema(streams.EVENTS_SCHEMA).parquet(events_dir)
    return builder(batch)


def test_tumbling_stream_matches_batch(spark, events_time_split_dir):
    events_dir = events_time_split_dir
    streams.run_to_memory(
        streams.tumbling_counts(streams.read_events_stream(spark, events_dir)),
        "tumbling_sink",
        output_mode="complete",
    )
    got = {
        tuple(r)
        for r in spark.table("tumbling_sink").collect()
    }
    # batch twin on the same files: watermark is a no-op in batch mode,
    # and availableNow drains everything, so results must be identical
    want = {
        tuple(r)
        for r in _batch_equivalent(
            spark,
            events_dir,
            lambda df: df.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type",
                "n_events",
                "total_value",
            ),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_session_stream_matches_batch(spark, events_time_split_dir):
    events_dir = events_time_split_dir
    streams.run_to_memory(
        streams.session_counts(streams.read_events_stream(spark, events_dir)),
        "session_sink",
        output_mode="complete",
    )
    got = {tuple(r) for r in spark.table("session_sink").collect()}
    want = {
        tuple(r)
        for r in _batch_equivalent(
            spark,
            events_dir,
            lambda df: df.groupBy("user_id", F.session_window("ts", "5 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            ),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


@pytest.fixture(scope="module")
def events_time_split_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 files by ts quartile, with ascending file
    names and mtimes so the file stream source replays them in
    event-time order (EMA is order-sensitive across micro-batches)."""
    import glob
    import os
    import shutil

    from hive_clone_spark.catalog import table

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    bounds = [r[0] for r in e.selectExpr(
        "percentile(cast(ts as double), array(0.25, 0.5, 0.75)) as p"
    ).select(F.explode("p")).collect()]
    out = tmp_path_factory.mktemp("events_ts_stream")
    stage = tmp_path_factory.mktemp("events_ts_stage")
    lo = None
    for i, hi in enumerate(bounds + [None]):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("ts").cast("double") > lo)
        if hi is not None:
            cond = cond & (F.col("ts").cast("double") <= hi)
        sdir = str(stage / f"slice{i}")
        e.where(cond).coalesce(1).write.mode("overwrite").parquet(sdir)
        part = glob.glob(f"{sdir}/part-*.parquet")[0]
        dst = str(out / f"{i:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        lo = hi
    return str(out)


def test_ema_stream_final_state_matches_batch(spark, events_time_split_dir):
    """applyInPandasWithState stream: after draining all files (replayed
    in event-time order), the last emitted (n_seen, ema) per user equals
    the batch EMA's final row."""
    from hive_clone_spark.streaming.stateful import ema_stream

    events_dir = events_time_split_dir
    streams.run_to_memory(
        ema_stream(streams.read_events_stream(spark, events_dir)),
        "ema_sink",
        output_mode="update",
    )
    sink = spark.table("ema_sink")
    # keep the last update per user (max n_seen)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    got = {
        (r.user_id, r.n_seen, round(r.ema, 6))
        for r in sink.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }

    batch = spark.read.schema(streams.EVENTS_SCHEMA).parquet(events_dir)
    import pandas as pd  # noqa: F401

    ALPHA = 0.2

    def final_ema(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        ema = None
        for v in pdf["value"]:
            v = float(v)
            ema = v if ema is None else ALPHA * v + (1 - ALPHA) * ema
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n_seen": [len(pdf)], "ema": [ema]}
        )

    want = {
        (r.user_id, r.n_seen, round(r.ema, 6))
        for r in batch.groupBy("user_id")
        .applyInPandas(final_ema, "user_id BIGINT, n_seen BIGINT, ema DOUBLE")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_ema_batch_boundary_carry(spark, sf_dir):
    """p_ema's mapInPandas carries per-user EMA state across Arrow batch
    boundaries; force tiny batches so users straddle them, and demand
    the same oracle-exact result."""
    from hive_clone_spark import registry
    from tests.oracle_utils import compare

    registry.load_all_modules()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = registry.QUERIES["p_ema"](spark, sf_dir)
        ok, msg = compare(df, registry.ORACLE["p_ema"], sf_dir)
        assert ok, msg
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_run_to_memory_pins_state_partitions(spark, events_time_split_dir):
    """The memory runner drains under STATE_PARTITIONS and hands the
    session its own partition count back, also when a batch raises."""
    from pyspark.errors import StreamingQueryException

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        q = streams.run_to_memory(
            streams.tumbling_counts(
                streams.read_events_stream(spark, events_time_split_dir)
            ),
            "pin_sink",
            output_mode="complete",
        )
        assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 8
        assert spark.conf.get(key) == "3"

        failing = streams.read_events_stream(spark, events_time_split_dir).select(
            F.raise_error(F.lit("batch fails")).cast("long").alias("x")
        )
        with pytest.raises(StreamingQueryException):
            streams.run_to_memory(failing, "pin_fail_sink")
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)


def test_stream_drains_live_only_in_streams_module():
    """Every availableNow drain goes through `streams.run_to_memory` or
    `streams.run_foreach`, and only the session factory and the memory
    runner set the shuffle-partition count."""
    import re
    from pathlib import Path

    pkg = Path(streams.__file__).resolve().parent.parent
    sets_parts = re.compile(
        r"(\.set|\.config)\(\s*[\"']spark\.sql\.shuffle\.partitions"
        r"|\bSET\s+spark\.sql\.shuffle\.partitions",
        re.IGNORECASE,
    )
    drains, pins = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        if rel != "streaming/streams.py" and "writeStream" in text:
            drains.append(rel)
        if rel not in ("session.py", "streaming/streams.py") and sets_parts.search(text):
            pins.append(rel)
    assert drains == [], f"writeStream outside streams.py: {drains}"
    assert pins == [], f"shuffle.partitions set outside streams.py: {pins}"


def test_streaming_rules_live_only_in_streams_module():
    """The events stream glob and the click→purchase interval live
    only in `streams.py`, as do the settled floor (`F.least`) and the
    update-drain final-row Window (`row_number`) among the streaming
    modules."""
    import re
    from pathlib import Path

    pkg = Path(streams.__file__).resolve().parent.parent
    everywhere = re.compile(r"events\.parque\[t\]|>=\s*F\.col\([\"']click_ts")
    in_streaming = re.compile(r"F\.least\(|row_number\(")
    copies = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "streaming/streams.py":
            continue
        text = path.read_text()
        if everywhere.search(text) or (
            rel.startswith("streaming/") and in_streaming.search(text)
        ):
            copies.append(rel)
    assert copies == [], f"streaming rules copied outside streams.py: {copies}"


def test_session_sets_filesystem_checkpoint_manager(spark):
    from hive_clone_spark.session import CHECKPOINT_FILE_MANAGER

    assert CHECKPOINT_FILE_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER


def test_foreach_restart_delivers_only_new_file(
    spark, events_time_split_dir, tmp_path
):
    """A foreachBatch drain restarted on the same checkpoint after one
    new source file lands delivers exactly that file as one new batch,
    and the checkpoint's offsets/ and commits/ logs hold only finished
    batch files: the manager's temp-file-then-rename left nothing
    behind."""
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    files = sorted(os.listdir(events_time_split_dir))
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    def drain():
        streams.run_foreach(streams.read_events_stream(spark, str(src)), sink, ckpt)

    def n_rows(name):
        path = os.path.join(events_time_split_dir, name)
        return spark.read.schema(streams.EVENTS_SCHEMA).parquet(path).count()

    shutil.copy(os.path.join(events_time_split_dir, files[0]), src / files[0])
    drain()
    assert seen == [(0, n_rows(files[0]))]

    shutil.copy(os.path.join(events_time_split_dir, files[1]), src / files[1])
    drain()
    assert seen == [(0, n_rows(files[0])), (1, n_rows(files[1]))]

    for log in ("offsets", "commits"):
        names = sorted(os.listdir(os.path.join(ckpt, log)))
        finished = [n for n in names if n.isdigit()]
        assert finished == ["0", "1"], (log, names)
        # the rest may only be the local filesystem's ".<batch>.crc"
        # checksums of those files, never a ".tmp" from a write
        assert sorted(set(names) - set(finished)) == [
            f".{n}.crc" for n in finished
        ], (log, names)
