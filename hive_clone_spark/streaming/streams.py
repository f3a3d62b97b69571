"""True Structured-Streaming paths (M4): readStream → watermark →
windowed agg / keyed state → sink.

The registered batch twins live in `windows.py` (same `F.window` /
`F.session_window` operators, oracle-checked); this module wires the
identical transformations onto an unbounded source, which is what runs
on a cluster against a live feed. The reference's analog is the 60 Hz
frame loop (ui_app.cpp:66-72) — a micro-batch trigger — with the
per-key EMA state of S1 (ui_app.cpp:242-299).

Scale notes (100 TB / day feeds):
  * watermarks bound state: `withWatermark` lets Spark drop window
    state once `max(event time) - delay` passes the window end, so
    state size tracks the watermark horizon, not the stream length;
  * the aggregation state store is keyed by (window, group keys) and
    hash-partitioned across executors — the same shuffle layout the
    batch twin uses;
  * `availableNow` trigger gives exactly-once batch-boundary semantics
    for backfills over file listings (the test path here).

Every availableNow drain in the engine goes through one of two runners.
Both take the checkpoint file manager from the session:
`session.get_spark` sets `FileSystemBasedCheckpointFileManager` (plain
create + rename for offsets, commits and state deltas), read once when
a query starts. Beyond that:
  * `run_to_memory` drains into an in-memory table and pins
    `spark.sql.shuffle.partitions` to `STATE_PARTITIONS` for the drain,
    restoring the session value afterwards;
  * `run_foreach` drains through a foreachBatch sink and sets no conf,
    because those sinks shuffle inside each batch and a pin would
    change their plans.

The streaming entries share one home for each rule they apply:
  * `events_path`: where the events feed is read from (a glob, so the
    file source gets a directory basePath);
  * `redelivered_events`: the at-least-once feed, every event twice,
    with both copies in micro-batch 0;
  * `click_purchase_join`: the click→purchase stream-stream join, its
    watermarks (`WATERMARK` on both sides) and its interval
    `purchase_ts ∈ [click_ts, click_ts + horizon]`, for every join type;
  * `settled_floor`: the event time below which that join's outer rows
    can no longer change;
  * `final_state`: the last row per key of an update-mode drain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from hive_clone_spark.catalog import table

# Each stateful operator materializes one state store PER shuffle
# partition; a stream-stream join keeps two sides. Size the stream's
# partition count to key cardinality (a few hundred users here), not the
# batch default — on a production feed this is the knob you RAISE to
# spread state across executors. Dedup and windowed state are sized the
# same way as join state. The conf is read once, at stream start, so
# only the drain needs it.
STATE_PARTITIONS = 8

# Event-time lateness every watermark in this module allows.
WATERMARK = "10 minutes"

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def events_path(sf_dir: str) -> str:
    """The stream source path of the sf dir's events table: a glob, not
    the bare file path, because the file-stream source requires its
    basePath to be a directory, and a glob anchors it to sf_dir."""
    return os.path.join(sf_dir, "events.parque[t]")


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    columns: list[str] | None = None,
) -> DataFrame:
    """File-listing source over a directory of parquet event files.
    Schema is declared (streams cannot infer), matching TESTDATA.md's
    `events` columns used by the batch twins.

    `max_files_per_trigger=None` drops the per-trigger file cap so every
    matched file lands in micro-batch 0 — required by consumers whose
    semantics need all redelivered copies co-resident within one
    watermark horizon (`redelivered_events`).

    `columns` narrows the DECLARED schema to those fields: the state
    workers downstream (applyInPandasWithState) are opaque to the
    optimizer, so every column of their input is read from parquet,
    shuffled on the state key and shipped across the Python boundary —
    declaring only what the worker touches prunes all three.

    Sets the session zone to UTC under the harness contract that
    `catalog.table` documents: drained timestamps render as strings
    downstream, so the wall clock must match DuckDB's naive read under
    any caller session. Deliberately not restored — the zone resolves
    lazily at execution."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = EVENTS_SCHEMA
    if columns is not None:
        want = set(columns)
        schema = StructType(
            [f for f in EVENTS_SCHEMA.fields if f.name in want]
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming twin of `q23_tumbling_window`: 1h tumbling windows per
    event_type, late data beyond the watermark dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming twin of `q25_session_window`: per-user 5m-gap sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", "5 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
):
    """Drain the stream into an in-memory table with the availableNow
    trigger (process-everything-then-stop — the backfill pattern), with
    `spark.sql.shuffle.partitions` pinned to `STATE_PARTITIONS` for the
    drain. `checkpoint` is the checkpoint directory a restarted query
    resumes from. Returns the finished StreamingQuery so callers can
    inspect lastProgress (state-store sizes, watermark)."""
    conf = stream_df.sparkSession.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        q.awaitTermination()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
    return q


def final_state(
    spark: SparkSession, name: str, key: str, counter: str
) -> DataFrame:
    """The final row per `key` of the update-mode drain in memory table
    `name`. An update drain emits a key's row again in every
    micro-batch that changed its state, so the table holds one row per
    (key, batch); `counter` grows with every event folded into the
    state, and the row with its highest value is the key's last."""
    w = Window.partitionBy(key).orderBy(F.desc(counter))
    return (
        spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


def run_foreach(stream_df: DataFrame, sink, checkpoint: str):
    """Drain the stream through the foreachBatch `sink(batch_df,
    batch_id)` with the availableNow trigger, checkpointing to
    `checkpoint`. Changes no conf: the sinks shuffle inside each batch
    under the session's own partition count. Returns the finished
    StreamingQuery."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
    horizon: str = "1 hour",
) -> DataFrame:
    """Stream-stream join of each click to the same user's purchases
    within `horizon` after it. Both sides are watermarked so Spark can
    bound the join state: click state is droppable once the watermark
    passes click_ts + horizon, purchase state once it passes
    purchase_ts — the time-bound condition is what makes an unbounded
    stream-stream join feasible at all.

    `how` is any join type Spark streams: inner, left_outer and
    full_outer give click_id, user_id, click_ts, purchase_id,
    purchase_ts and purchase_value, with the user_id of whichever side
    is present; left_semi gives the click columns only (click_id,
    user_id, click_ts), each matched click once."""
    c = clicks.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )
    if how == "left_semi":
        return joined.select("click_id", F.col("c_user").alias("user_id"), "click_ts")
    return joined.select(
        "click_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def settled_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row, one column `b`: the event time below which the outcome
    of a `click_purchase_join` over the sf dir's events is final. The
    global watermark is the MIN over every withWatermark node of that
    node's own max event time − delay (measured at sf0.001: with the
    click side ending at 19:30 and the purchase side at 23:26, the
    eviction boundary tracked the click side's max), so `b` is
    least(max click ts, max purchase ts) − `WATERMARK`, minus 1 s of
    slack for the watermark's millisecond flooring. An unmatched
    purchase is settled once purchase_ts < b; an unmatched click once
    click_ts + horizon < b, since a purchase inside its horizon could
    still arrive until then. Computed from the batch table, for the
    caller to broadcast."""
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr(f"INTERVAL {WATERMARK}")
            - F.expr("INTERVAL 1 second")
        ).alias("b")
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with a slowly-changing
    dimension (user -> segment). The static side is broadcast to every
    executor once per micro-batch — no stream state at all, which is
    why this is the cheapest join a stream can do and the first choice
    for dimension enrichment at 100 TB/day (state cost is O(dim), not
    O(stream)). Left join so events without a dimension row survive
    with a NULL segment (the unknown-user case)."""
    d = F.broadcast(
        dim.select(
            F.col("c_custkey").alias("d_user"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return events.join(d, events["user_id"] == d["d_user"], "left").select(
        "event_id", "user_id", "event_type", "ts", "value", "segment"
    )


def write_stream_exactly_once(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Exactly-once parquet sink via foreachBatch: each micro-batch
    writes to a batch-id-keyed subdirectory in overwrite mode, so a
    batch replayed after failure overwrites its own previous (possibly
    partial) output instead of appending duplicates. Idempotent writes
    + the checkpointed batch-id watermark are what upgrade Structured
    Streaming's at-least-once delivery to exactly-once results — the
    standard production file-sink recipe when the built-in file sink's
    single-directory layout doesn't fit (e.g. per-batch compaction or
    merge-into targets).

    Returns the drained StreamingQuery (availableNow trigger: drain
    everything, then stop)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return run_foreach(stream_df, sink, checkpoint_dir)


def dedup_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """At-least-once → effectively-once: drop redelivered events by id.

    `dropDuplicatesWithinWatermark` keeps one state-store row per key
    only until the watermark passes the key's event time — state is
    bounded by the redelivery horizon, not the stream length (plain
    `dropDuplicates` on a stream grows state forever). This is THE
    ingestion-edge dedup for feeds with retry semantics (Kafka
    producers, file re-uploads)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def redelivered_events(
    spark: SparkSession, sf_dir: str, columns: list[str] | None = None
) -> DataFrame:
    """The sf dir's events delivered twice, a model of at-least-once
    redelivery: the union of two independent sources over the same
    feed. Neither leg has a per-trigger file cap. Dedup correctness
    requires both copies of an event to land within the watermark of
    each other, which a multi-file source drip-fed at
    maxFilesPerTrigger=1 cannot guarantee: a duplicate in a later
    micro-batch whose twin's state already aged out of the watermark
    would leak. With no cap, all files of both legs arrive in
    micro-batch 0. `columns` narrows both legs' declared schema."""
    path = events_path(sf_dir)
    return read_events_stream(
        spark, path, max_files_per_trigger=None, columns=columns
    ).unionByName(
        read_events_stream(spark, path, max_files_per_trigger=None, columns=columns)
    )
