"""Event-time window operators over `events` (M4).

The registered queries run the window operators in BATCH mode (same
operators Structured Streaming uses — `F.window`, `F.session_window` —
so plans are identical modulo the streaming sink) and are DuckDB-
oracle-checked. The true streaming path (readStream → watermark →
windowed agg → sink) lives in `streams.py` and is exercised by the
streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.registry import register

_FMT = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# tumbling window (1h): F.window — start/end are epoch-aligned
# ---------------------------------------------------------------------------
@register(
    "q23_tumbling_window",
    oracle="""
    SELECT
      strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def q23_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", _FMT).alias("window_start"),
            F.date_format("window.end", _FMT).alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# sliding window (1h window, 30m slide): every event lands in 2 windows;
# the oracle reproduces the start set by epoch arithmetic
# ---------------------------------------------------------------------------
@register(
    "q24_sliding_window",
    oracle="""
    WITH offsets(off) AS (VALUES (0), (1)),
    slid AS (
      -- integer microseconds: epoch(ts)::BIGINT would ROUND, not floor
      SELECT to_timestamp((epoch_us(ts) // 1800000000) * 1800 - off * 1800)
               AT TIME ZONE 'UTC' AS w_start,
             value
      FROM events, offsets)
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(w_start + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM slid
    GROUP BY 1, 2
    ORDER BY window_start
    """,
)
def q24_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", _FMT).alias("window_start"),
            F.date_format("window.end", _FMT).alias("window_end"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# session window (5m gap) per user: F.session_window merges events whose
# gap to the previous is < 5m; session end = last event + gap. Oracle:
# gaps-and-islands with lag.
# ---------------------------------------------------------------------------
@register(
    "q25_session_window",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 300000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM seq)
    SELECT user_id,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q25_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", _FMT).alias("session_start"),
            F.date_format("session_window.end", _FMT).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )

# ---------------------------------------------------------------------------
# q59: stream-stream interval join through the REAL streaming path —
# readStream (file source, declared schema) → per-side watermarks →
# time-bounded inner join → availableNow drain into a memory sink —
# then a batch aggregation over the drained pairs. The other streaming
# entries run their operators in batch mode; this one makes the
# readStream→join→sink pipeline itself driver-visible. availableNow
# over one parquet file is a single micro-batch, so the inner join
# emits every match deterministically (the watermark only bounds state
# cleanup, never inner-join emission).
#
# Scale design: the time-bound condition is what makes an unbounded
# stream-stream join feasible — click state is droppable once the
# watermark passes click_ts + horizon, purchase state once it passes
# purchase_ts; state size tracks the horizon, not the stream length.
# ---------------------------------------------------------------------------
@register(
    "q59_stream_stream_join",
    oracle="""
    WITH pairs AS (
      SELECT c.user_id, c.ts AS cts, p.ts AS pts, p.value AS pv
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE c.event_type = 'click' AND p.event_type = 'purchase')
    SELECT user_id,
      COUNT(*) AS n_pairs,
      strftime(MIN(cts), '%Y-%m-%d %H:%M:%S') AS first_click,
      strftime(MAX(pts), '%Y-%m-%d %H:%M:%S') AS last_purchase,
      ROUND(CAST(SUM(CAST(pv AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS total_purchase_value
    FROM pairs
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q59_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        click_purchase_join,
        events_path,
        read_events_stream,
        run_to_memory,
    )

    src = read_events_stream(spark, events_path(sf_dir))
    joined = click_purchase_join(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"),
    )
    run_to_memory(joined, "q59_pairs", output_mode="append")
    pairs = spark.table("q59_pairs")
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.date_format(F.min("click_ts"), _FMT).alias("first_click"),
            F.date_format(F.max("purchase_ts"), _FMT).alias("last_purchase"),
            F.round(
                F.sum(F.col("purchase_value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_purchase_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q60: stream-static enrichment through the same real streaming path —
# readStream events LEFT JOIN broadcast customer dimension → memory
# sink → batch rollup per segment. The static side re-broadcasts per
# micro-batch with zero stream state (state cost O(dim), not
# O(stream)) — the first-choice join for dimension enrichment at
# 100 TB/day. Unknown users survive with a NULL segment (left join),
# reported under the 'unknown' bucket.
# ---------------------------------------------------------------------------
@register(
    "q60_stream_static_enrich",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'unknown') AS segment,
      COUNT(*) AS n_events,
      COUNT(DISTINCT e.user_id) AS n_users,
      ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
)
def q60_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        enrich_with_dim,
        events_path,
        read_events_stream,
        run_to_memory,
    )

    src = read_events_stream(spark, events_path(sf_dir))
    dim = table(spark, sf_dir, "customer")
    run_to_memory(enrich_with_dim(src, dim), "q60_enriched", output_mode="append")
    return (
        spark.table("q60_enriched")
        .groupBy(F.coalesce("segment", F.lit("unknown")).alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q66: streaming deduplication through the real streaming path. Two
# independent readStream sources over the SAME event feed are unioned —
# a faithful model of at-least-once redelivery (every event arrives
# exactly twice) — then `dropDuplicatesWithinWatermark` on event_id
# restores effectively-once: the first copy is emitted, the second is
# dropped by keyed state that the watermark expires. The oracle is the
# clean single-copy aggregate — if even one duplicate leaked through,
# every count and sum would be off.
#
# Scale design: dedup state is one row per event_id only within the
# watermark horizon (10 min of event time), not per stream-lifetime —
# the property that makes ingestion dedup feasible on an unbounded
# feed.
# ---------------------------------------------------------------------------
@register(
    "q66_stream_dedup",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q66_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        dedup_stream,
        redelivered_events,
        run_to_memory,
    )

    deduped = dedup_stream(redelivered_events(spark, sf_dir))
    run_to_memory(deduped, "q66_dedup", output_mode="append")
    t = spark.table("q66_dedup")
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q68: custom keyed stateful operator through the real streaming path —
# applyInPandasWithState (per-user mutable EMA state, the reference's
# S1 ring-alpha smoothing as an unbounded-stream operator) driven by
# readStream → update-mode memory sink. The sink accumulates one
# update row per (user, micro-batch); the entry reduces to each
# user's FINAL state, which must equal the batch recursive-CTE fold —
# so a lost state row, a double-applied batch, or a fold-order slip
# all surface as a hash mismatch.
#
# Scale design: state is one (n_seen, ema) pair per user, partitioned
# by the group key across executors; update mode emits deltas only.
# The Python crossing is per group per micro-batch (Arrow-batched) —
# the streaming analog of p_ema's mapInPandas cost note.
# ---------------------------------------------------------------------------
@register(
    "q68_stream_stateful_ema",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    ema(user_id, rn, ema) AS (
      SELECT user_id, rn, value FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, 0.2 * e.value + 0.8 * m.ema
      FROM ema m JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1),
    last AS (
      SELECT user_id, rn, ema,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rk
      FROM ema)
    SELECT user_id, CAST(rn AS BIGINT) AS n_seen, ROUND(ema, 6) AS ema
    FROM last WHERE rk = 1
    ORDER BY user_id
    """,
)
def q68_stream_stateful_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.stateful import ema_stream
    from hive_clone_spark.streaming.streams import (
        events_path,
        final_state,
        read_events_stream,
        run_to_memory,
    )

    src = read_events_stream(
        spark, events_path(sf_dir),
        columns=["user_id", "event_id", "ts", "value"],
    )
    run_to_memory(ema_stream(src), "q68_ema", output_mode="update")
    return (
        final_state(spark, "q68_ema", "user_id", "n_seen")
        .select("user_id", "n_seen", F.round("ema", 6).alias("ema"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q72: exactly-once file sink through the real streaming path —
# readStream → foreachBatch writing each micro-batch to a
# batch-id-keyed directory in overwrite mode (idempotent under
# replay) → recursive read-back → aggregate. The oracle is the plain
# batch aggregate of the source: a dropped batch, a double-written
# batch, or a partial replay all shift the counts/sums and fail the
# hash. This is the production recipe that upgrades Structured
# Streaming's at-least-once file delivery to exactly-once results.
#
# Scale design: per-batch overwrite directories mean a replayed batch
# REPLACES its own partial output instead of appending duplicates;
# the checkpoint's batch-id watermark makes the replay window finite.
# State cost: zero (stateless pass-through stream).
# ---------------------------------------------------------------------------
@register(
    "q72_stream_exactly_once_sink",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n_events,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q72_stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import (
        events_path,
        read_events_stream,
        write_stream_exactly_once,
    )

    out_dir = _warehouse(sf_dir, "q72_sink")
    ckpt_dir = _warehouse(sf_dir, "q72_ckpt")
    src = read_events_stream(spark, events_path(sf_dir))
    write_stream_exactly_once(src, out_dir, ckpt_dir)
    back = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q88: stream-stream LEFT OUTER join — the operator that makes
# "clicks that never converted" computable on a live feed. Inner
# stream-stream joins (q59) emit matches as they meet; the OUTER form
# additionally emits a null-completed row once the watermark proves no
# match can still arrive. That proof is watermark-relative: a click's
# null row is guaranteed emitted once click_ts + horizon is below
# `streams.settled_floor`. The entry reports only that SETTLED region
# on BOTH sides — clicks whose outcome could still change if the
# stream continued are excluded by construction. That is the honest
# semantics of outer results on an unbounded stream: you only ever
# know the settled prefix.
#
# Scale design: same watermark-bounded two-sided state as q59 (state
# drops once the proof window passes); the settled-region filter is a
# post-drain predicate, not extra state.
# ---------------------------------------------------------------------------
@register(
    "q88_stream_outer_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
    mx AS (
      SELECT LEAST((SELECT MAX(ts) FROM clicks),
                   (SELECT MAX(ts) FROM purchases))
             - INTERVAL 10 MINUTE - INTERVAL 1 HOUR - INTERVAL 1 SECOND
        AS b),
    pairs AS (
      SELECT c.event_id, c.user_id, p.value
      FROM clicks c JOIN purchases p
        ON p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
    settled AS (
      SELECT c.* FROM clicks c, mx WHERE c.ts < mx.b),
    expired AS (
      SELECT s.event_id, s.user_id FROM settled s
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.event_id = s.event_id))
    SELECT user_id,
      CAST((SELECT COUNT(*) FROM pairs p WHERE p.user_id = u.user_id)
           AS BIGINT) AS n_pairs,
      CAST((SELECT COUNT(*) FROM expired e WHERE e.user_id = u.user_id)
           AS BIGINT) AS n_expired_clicks,
      ROUND(CAST((SELECT COALESCE(SUM(CAST(p.value AS DECIMAL(18,6))), 0)
                  FROM pairs p WHERE p.user_id = u.user_id) AS DOUBLE), 6)
        AS total_value
    FROM (SELECT DISTINCT user_id FROM pairs
          UNION SELECT DISTINCT user_id FROM expired) u
    ORDER BY user_id
    """,
)
def q88_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        click_purchase_join,
        events_path,
        read_events_stream,
        run_to_memory,
        settled_floor,
    )

    src = read_events_stream(spark, events_path(sf_dir))
    joined = click_purchase_join(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"),
        how="left_outer",
    )
    run_to_memory(joined, "q88_outer", output_mode="append")
    drained = spark.table("q88_outer")
    # a fresh alias of the key: the self-join below cannot re-instance
    # the memory table's relation, so its sides may share no attribute
    settled_nulls = (
        drained.where(F.col("purchase_ts").isNull())
        .crossJoin(F.broadcast(settled_floor(spark, sf_dir)))
        .where(F.col("click_ts") + F.expr("INTERVAL 1 hour") < F.col("b"))
        .groupBy(F.col("user_id").alias("user_id"))
        .agg(F.count("*").alias("n_expired_clicks"))
    )
    pairs = (
        drained.where(F.col("purchase_ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.col("purchase_value").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("total_value"),
        )
    )
    return (
        pairs.join(settled_nulls, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_expired_clicks", F.lit(0)).cast("long").alias(
                "n_expired_clicks"
            ),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q102: stream-stream FULL OUTER join — the final member of the
# streaming join family (inner q59, left-outer q88). Both sides
# null-complete: a click with no purchase inside its 1-hour horizon
# AND a purchase no click ever preceded both get emitted once the
# watermark PROVES their counterpart cannot arrive. The two proofs
# settle at different boundaries, which is the operator's whole
# subtlety:
#   * an unmatched CLICK settles when wm passes click_ts + horizon
#     (a later purchase inside the window could still have matched);
#   * an unmatched PURCHASE settles when wm passes purchase_ts alone
#     (its candidate clicks all lie AT OR BEFORE it — once the
#     watermark passes purchase_ts, any such click would be rejected
#     as late, so absence is proven with no horizon wait).
# The entry reports only the settled region of EACH side, both below
# `streams.settled_floor`; the oracle derives both regions from the
# batch table independently.
#
# Scale design: identical watermark-bounded two-sided state to
# q59/q88 — the asymmetric settle boundaries change which rows the
# state can DROP (purchase state is droppable a full horizon earlier
# than click state), not how much of it exists.
# ---------------------------------------------------------------------------
@register(
    "q102_stream_full_outer_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM clicks),
                   (SELECT MAX(ts) FROM purchases))
             - INTERVAL 10 MINUTE - INTERVAL 1 SECOND AS b),
    pairs AS (
      SELECT c.event_id AS cid, p.event_id AS pid, c.user_id, p.value
      FROM clicks c JOIN purchases p
        ON p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
    settled_c AS (
      SELECT c.* FROM clicks c, wm WHERE c.ts + INTERVAL 1 HOUR < wm.b),
    settled_p AS (
      SELECT p.* FROM purchases p, wm WHERE p.ts < wm.b),
    expired_c AS (
      SELECT s.event_id, s.user_id FROM settled_c s
      WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.cid = s.event_id)),
    orphan_p AS (
      SELECT s.event_id, s.user_id FROM settled_p s
      WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.pid = s.event_id))
    SELECT user_id,
      CAST((SELECT COUNT(*) FROM pairs x
            WHERE x.user_id = u.user_id) AS BIGINT) AS n_pairs,
      CAST((SELECT COUNT(*) FROM expired_c e
            WHERE e.user_id = u.user_id) AS BIGINT) AS n_expired_clicks,
      CAST((SELECT COUNT(*) FROM orphan_p o
            WHERE o.user_id = u.user_id) AS BIGINT) AS n_orphan_purchases,
      ROUND(CAST((SELECT COALESCE(SUM(CAST(x.value AS DECIMAL(18,6))), 0)
                  FROM pairs x WHERE x.user_id = u.user_id) AS DOUBLE), 6)
        AS total_value
    FROM (SELECT DISTINCT user_id FROM pairs
          UNION SELECT DISTINCT user_id FROM expired_c
          UNION SELECT DISTINCT user_id FROM orphan_p) u
    ORDER BY user_id
    """,
)
def q102_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        click_purchase_join,
        events_path,
        read_events_stream,
        run_to_memory,
        settled_floor,
    )

    src = read_events_stream(spark, events_path(sf_dir))
    joined = click_purchase_join(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"),
        how="full_outer",
    )
    run_to_memory(joined, "q102_full_outer", output_mode="append")
    drained = spark.table("q102_full_outer")
    wm = settled_floor(spark, sf_dir)
    # fresh aliases of the key, as in q88's self-join
    expired_c = (
        drained.where(F.col("purchase_id").isNull())
        .crossJoin(F.broadcast(wm))
        .where(F.col("click_ts") + F.expr("INTERVAL 1 hour") < F.col("b"))
        .groupBy(F.col("user_id").alias("user_id"))
        .agg(F.count("*").alias("n_expired_clicks"))
    )
    orphan_p = (
        drained.where(F.col("click_id").isNull())
        .crossJoin(F.broadcast(wm))
        .where(F.col("purchase_ts") < F.col("b"))
        .groupBy(F.col("user_id").alias("user_id"))
        .agg(F.count("*").alias("n_orphan_purchases"))
    )
    pairs = (
        drained.where(
            F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.col("purchase_value").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("total_value"),
        )
    )
    return (
        pairs.join(expired_c, "user_id", "full_outer")
        .join(orphan_p, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_expired_clicks", F.lit(0)).cast("long").alias(
                "n_expired_clicks"
            ),
            F.coalesce("n_orphan_purchases", F.lit(0)).cast("long").alias(
                "n_orphan_purchases"
            ),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q146 — CHAINED stateful operators in one streaming plan:
# dropDuplicatesWithinWatermark (ingestion-edge dedup of a doubled
# feed) feeding a tumbling-window aggregate, both stateful, one query,
# append mode — the multi-stateful-operator capability (SPARK-40925,
# GA in Spark 3.5/4.x) that older engines forced into two jobs with an
# intermediate sink. The source is every event delivered TWICE (q66's
# at-least-once injection); the dedup stage must drop the twins before
# they reach the window state, so a leak shows up as doubled counts
# and fails the hash.
#
# Emission boundary (measured on this engine, this session): append
# mode emits a window once the watermark (max event ts - 10 min, ms
# resolution) passes its END — at sf0.01 exactly the 5 final-hour
# windows are withheld. The oracle mirrors that settled-region
# predicate with epoch_ms arithmetic; window ends are hour-aligned, so
# the ms flooring can never sit on the boundary.
#
# Scale design: both state stores are watermark-bounded (dedup keys
# age out after 10 min; window state drops once emitted); the chain
# shares one shuffle layout on the group keys. This is the production
# shape for exactly-once ingestion + rollup in a single job.
# ---------------------------------------------------------------------------
@register(
    "q146_stream_dedup_windowed",
    oracle="""
    WITH wm AS (
      SELECT epoch_ms(MAX(ts)) - 600000 AS wm_ms FROM events),
    h AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY ws, event_type)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
      event_type, n_events, total_value
    FROM h, wm
    WHERE epoch_ms(ws + INTERVAL 1 HOUR) <= wm_ms
    ORDER BY window_start, event_type
    """,
)
def q146_stream_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        dedup_stream,
        redelivered_events,
        run_to_memory,
    )

    # Declared columns narrowed to what the dedup key + window aggregate
    # touch — user_id otherwise rides through the dedup STATE STORE and
    # both stateful shuffles unused (§2.3; the r13 stateful-streaming
    # column-narrowing discipline applied to this chain).
    redelivered = redelivered_events(
        spark, sf_dir, columns=["event_id", "ts", "event_type", "value"]
    )
    agg = (
        dedup_stream(redelivered)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "window_end"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    run_to_memory(agg, "q146_dedup_windowed", output_mode="append")
    return (
        spark.table("q146_dedup_windowed")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Q162 — late-data routing at the ingestion edge: how much data is
# the pipeline's lateness policy actually rejecting? Ops teams tune
# watermarks against a MEASURED drop rate; this entry builds the
# measurement. The events feed is staged into two mtime-ordered files
# (the file source processes oldest-first): batch 0 carries the
# on-time mid-range, batch 1 carries the fresh tail PLUS stragglers
# from the stream's first two days — ~12 days late against the
# watermark batch 0 established.
#
# The router is EXPLICIT, in foreachBatch: the driver carries the
# running max event time across batches (the watermark definition),
# and each batch splits into accepted rows (aggregated per day/type,
# distributed) and a quarantined late set (counted, the dead-letter
# path). Explicit because Spark 4.1's own stateful operators do NOT
# reject late input (measured this session: a row 9 days behind the
# watermark is admitted into aggregation AND dedup state, emitted on
# the next eviction, numRowsDroppedByWatermark stays 0) — so a
# pipeline that needs late-data accounting must own the policy, and
# owning it puts the whole thing under the value-hash oracle: the
# oracle reproduces the watermark arithmetic (max of batch 0 minus
# the 10-minute horizon) and predicts BOTH the per-day accepted
# counts and the quarantined total exactly.
#
# Scale design: per batch, the router is one filter + one map-side-
# combinable aggregate; the cross-batch state is ONE scalar (max
# event ts). Collected per-batch partials are schema-bounded
# (days x types). The quarantine path in production appends the late
# rows to a dead-letter table (q121's shape); here their count is the
# ledger column.
# ---------------------------------------------------------------------------
_Q162_LATE_END = "2024-01-03 00:00:00"  # ts < this => straggler subset
_Q162_SPLIT = "2024-01-15 00:00:00"  # batch 0 = [late_end, split)
_Q162_HORIZON_MS = 600_000  # 10-minute lateness allowance


@register(
    "q162_stream_late_audit",
    oracle=f"""
    WITH b0 AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '{_Q162_LATE_END}'
        AND ts < TIMESTAMP '{_Q162_SPLIT}'),
    wm AS (SELECT epoch_ms(MAX(ts)) - {_Q162_HORIZON_MS} AS wm_ms FROM b0),
    b1 AS (
      SELECT * FROM events
      WHERE ts < TIMESTAMP '{_Q162_LATE_END}'
         OR ts >= TIMESTAMP '{_Q162_SPLIT}'),
    late AS (SELECT b1.* FROM b1, wm WHERE epoch_ms(b1.ts) < wm.wm_ms),
    accepted AS (
      SELECT * FROM b0
      UNION ALL
      SELECT b1.* FROM b1, wm WHERE epoch_ms(b1.ts) >= wm.wm_ms),
    d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_accepted
      FROM accepted GROUP BY day, event_type)
    SELECT CAST(day AS VARCHAR) AS day, event_type, n_accepted,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM late) AS quarantined_late,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS input_rows
    FROM d ORDER BY day, event_type
    """,
)
def q162_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import read_events_stream, run_foreach

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    src_dir = _warehouse(sf_dir, "late_q162")
    b0 = ev.where(
        (F.col("ts") >= _Q162_LATE_END) & (F.col("ts") < _Q162_SPLIT)
    )
    b1 = ev.where(
        (F.col("ts") < _Q162_LATE_END) | (F.col("ts") >= _Q162_SPLIT)
    )
    for df, sub, name, mt in (
        (b0, "b0", "batch0.parquet", 1_000_000_000),
        (b1, "b1", "batch1.parquet", 1_000_000_600),
    ):
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, sub)
        )
        part = glob.glob(os.path.join(src_dir, sub, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src_dir, name))
        shutil.rmtree(os.path.join(src_dir, sub))
        # pinned mtimes: the file source processes oldest-first
        # (latestFirst=false), so the two-batch order is deterministic
        os.utime(os.path.join(src_dir, name), (mt, mt))

    # cross-batch router state: ONE scalar + schema-bounded partials
    state = {"max_ms": None, "late": 0, "counts": {}}

    def route(batch_df: DataFrame, batch_id: int) -> None:
        wm_ms = (
            None
            if state["max_ms"] is None
            else state["max_ms"] - _Q162_HORIZON_MS
        )
        ts_ms = F.unix_micros("ts") / 1000
        if wm_ms is None:
            acc, n_late = batch_df, 0
        else:
            acc = batch_df.where(ts_ms >= wm_ms)
            n_late = batch_df.where(ts_ms < wm_ms).count()
        rows = (
            acc.groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.max(F.unix_micros("ts")).alias("mx_us"),
            )
            .collect()
        )
        state["late"] += n_late
        for r in rows:
            k = (str(r["day"]), r["event_type"])
            state["counts"][k] = state["counts"].get(k, 0) + int(r["n"])
            mx_ms = int(r["mx_us"]) // 1000
            if state["max_ms"] is None or mx_ms > state["max_ms"]:
                state["max_ms"] = mx_ms

    src = read_events_stream(spark, src_dir, max_files_per_trigger=1)
    run_foreach(src, route, os.path.join(src_dir, "_chk"))
    input_rows = ev.count()
    out = spark.createDataFrame(
        [
            (day, etype, n, state["late"], input_rows)
            for (day, etype), n in sorted(state["counts"].items())
        ],
        "day STRING, event_type STRING, n_accepted BIGINT, "
        "quarantined_late BIGINT, input_rows BIGINT",
    )
    return out.orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# q212: COMPLETE-mode streaming aggregate — the third output mode
# (append: q23/q94; update: q68/q138/q205), previously unexercised.
# Complete mode re-emits the ENTIRE result table every micro-batch —
# the semantics behind live leaderboards/dashboards, where the sink
# replaces its contents rather than appending deltas. The memory sink
# holds exactly the latest full table, so the final state is
# deterministic regardless of how the engine splits the input into
# batches (grouped sums/counts/maxes are order-independent — the
# q138 invariant, applied to the output mode instead of the state).
#
# Money stays integer (cents at the scan, BIGINT sums; a raw double
# sum over a shuffle is order-dependent — the standing invariant).
#
# Scale design: complete mode keeps O(|groups|) state (5 event types
# here — bounded by the domain, not the stream); its cost is
# re-emission, which is why it fits ONLY domain-bounded groupings —
# a per-user complete aggregate would re-emit 10^8 rows per batch,
# and the right tool there is update mode (q68). That boundary is
# the operational lesson this entry encodes.
# ---------------------------------------------------------------------------
_LEADER_FILES = 5


@register(
    "q212_stream_complete_leaderboard",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents,
      CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS max_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q212_stream_complete_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import run_to_memory

    src_dir = _warehouse(sf_dir, "leader_q212")
    (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "ts",
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        .repartition(_LEADER_FILES)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    # 3 files per trigger -> TWO micro-batches over the 5 staged files:
    # still exercises complete mode's re-emit-on-every-batch contract
    # (the memory sink's table is replaced twice), but stops paying the
    # per-batch fixed cost (state-store commit + full re-emission +
    # scheduling) five times for an order-insensitive aggregate whose
    # final table is identical under any batching. r13 scaling data
    # showed this entry ANTI-scaling (8 cores beat 32, ratio 0.57):
    # the cost was per-micro-batch overhead, not compute.
    src = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, event_type STRING, cents BIGINT"
        )
        .option("maxFilesPerTrigger", 3)
        .parquet(src_dir)
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.max("cents").alias("max_cents"),
    )
    run_to_memory(agg, "q212_leader", output_mode="complete")
    return (
        spark.table("q212_leader")
        .select("event_type", "n_events", "sum_cents", "max_cents")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q217: CHECKPOINT RESTART — the durability half of Structured
# Streaming that availableNow tests usually skip: a streaming
# aggregate runs, STOPS (process exit, deploy, crash), more data
# lands, and a NEW query instance resumes from the same checkpoint.
# Correct behavior requires two things at once: the restarted run
# must (a) restore its aggregate state (counts over run-1 files
# survive) and (b) process ONLY files the source log has not seen
# (no double counting on redelivery). The proof is the strongest one
# available: the post-restart complete-mode table must equal the
# batch truth over ALL data exactly — any state loss undercounts,
# any re-read overcounts, and either breaks the value hash.
#
# The checkpoint directory is pid-scoped (the q67 reaper discipline)
# so concurrent test sessions never share WALs.
#
# Scale design: checkpoint cost is O(state + source log), not O(data)
# — which is why a 100 TB/day pipeline restarts in seconds; the
# entry's two-run protocol is exactly a deploy cycle.
# ---------------------------------------------------------------------------
@register(
    "q217_stream_checkpoint_restart",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents,
      TRUE AS restarted
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q217_stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import run_to_memory

    src_dir = _warehouse(sf_dir, "ckpt_q217_src")
    ckpt_dir = _warehouse(sf_dir, "ckpt_q217_wal")

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    # phase A lands, run 1 drains it
    ev.where(F.col("event_id") % 4 < 2).repartition(2).write.mode(
        "append"
    ).parquet(src_dir)

    def run(name: str) -> None:
        src = (
            spark.readStream.schema(
                "event_id BIGINT, ts TIMESTAMP, event_type STRING, cents BIGINT"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        run_to_memory(agg, name, "complete", checkpoint=ckpt_dir)

    try:
        run("q217_run1")
        # the process "redeploys"; phase B lands while it is down
        ev.where(F.col("event_id") % 4 >= 2).repartition(2).write.mode(
            "append"
        ).parquet(src_dir)
        run("q217_run2")  # same checkpoint: restore state, read only new files
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return (
        spark.table("q217_run2")
        .select(
            "event_type",
            "n_events",
            F.col("sum_cents").cast("long").alias("sum_cents"),
            F.lit(True).alias("restarted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q240: stream-stream LEFT SEMI join — the last member of the
# stream-join family (inner q59, left outer q88, full outer q102):
# "which clicks converted?" WITHOUT materializing the purchase
# columns. Semi-join state semantics are the asymmetric case worth
# pinning: each left row emits AT MOST ONCE (on its first match) and
# carries no right-side payload, so the left state drops a row the
# moment it matches — strictly smaller state than the inner join's
# keep-until-watermark on both sides.
#
# Determinism: single-file source (all rows in micro-batch 0, the
# q66/q80 pinned assumption), and the output set — clicks with at
# least one same-user purchase within [ts, ts + 1h] — is match-order
# independent by definition of SEMI. The census aggregates per user.
#
# At 100 TB: watermark bounds both state stores; the 1-hour interval
# condition lets the right state expire at wm - 1h; semi means the
# matched-left set never re-emits on later duplicate purchases — the
# dedup the inner join would force downstream.
# ---------------------------------------------------------------------------
@register(
    "q240_stream_semi_join",
    oracle="""
    WITH conv AS (
      SELECT DISTINCT c.event_id, c.user_id, c.ts
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE c.event_type = 'click' AND p.event_type = 'purchase')
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_converted_clicks,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_converted,
      strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_converted
    FROM conv GROUP BY user_id ORDER BY user_id
    """,
)
def q240_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.streaming.streams import (
        click_purchase_join,
        events_path,
        read_events_stream,
        run_to_memory,
    )

    src = read_events_stream(spark, events_path(sf_dir))
    semi = click_purchase_join(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"),
        how="left_semi",
    )
    run_to_memory(semi, "q240_semi", output_mode="append")
    out = spark.table("q240_semi")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_converted_clicks"),
            F.date_format(F.min("click_ts"), _FMT).alias("first_converted"),
            F.date_format(F.max("click_ts"), _FMT).alias("last_converted"),
        )
        .orderBy("user_id")
    )
