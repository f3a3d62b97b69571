"""Keyed stateful processing (M4): the reference's per-key EMA
animation state (S1, ui_app.cpp:242-299 — alpha 0.2/frame smoothing
with eviction) generalized to a per-user event-value EMA.

Two forms:
  * `p_ema` (registered): batch applyInPandas per user, ordered by
    event time — DuckDB-oracle-checked via a recursive CTE that walks
    the same sequence with the same double arithmetic.
  * `ema_stream` : the Structured Streaming form with
    applyInPandasWithState (per-key mutable state + timeout eviction),
    exercised by the streaming tests on a file stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import sql_portable_hash
from hive_clone_spark.registry import register

ALPHA = 0.2  # reference smoothing rate (ui_app.cpp:15)

EMA_SCHEMA = "user_id BIGINT, seq BIGINT, ema DOUBLE"


@register(
    "p_ema",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    ema(user_id, rn, ema) AS (
      SELECT user_id, rn, value FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, {ALPHA} * e.value + {1 - ALPHA} * m.ema
      FROM ema m JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1)
    SELECT user_id, CAST(rn AS BIGINT) AS seq, ROUND(ema, 6) AS ema
    FROM ema ORDER BY user_id, seq
    """,
)
def p_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EMA of `value` over event-time order.

    Scale shape: groupBy().applyInPandas pays a JVM↔Python round trip
    PER GROUP (~4 ms each — 1500 users cost ~6 s at sf0.1), so this
    uses mapInPandas over user-partitioned, user-then-time-sorted rows:
    one Python crossing per Arrow batch, per-user ewm inside, and a
    carry dict for users whose rows straddle a batch boundary. pandas
    ewm(adjust=False) computes y_t = a*x_t + (1-a)*y_{t-1}, y_0 = x_0 —
    bit-identical to the oracle's recursive CTE."""
    from collections.abc import Iterator

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    part = e.repartition("user_id").sortWithinPartitions("user_id", "ts", "event_id")

    def ema_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        alpha = 0.2  # self-contained closure (workers lack repo sys.path)
        carry: dict = {}  # user_id -> (n_seen, last unrounded ema)
        for pdf in batches:
            outs = []
            for uid, grp in pdf.groupby("user_id", sort=False):
                vals = grp["value"].astype("float64").reset_index(drop=True)
                n0, e0 = carry.get(uid, (0, None))
                if e0 is None:
                    ema = vals.ewm(alpha=alpha, adjust=False).mean()
                else:
                    # seed continuation: y_0 = carried ema, then drop it
                    seeded = pd.concat([pd.Series([e0]), vals], ignore_index=True)
                    ema = (
                        seeded.ewm(alpha=alpha, adjust=False)
                        .mean()
                        .iloc[1:]
                        .reset_index(drop=True)
                    )
                carry[uid] = (n0 + len(vals), float(ema.iloc[-1]))
                outs.append(
                    pd.DataFrame(
                        {
                            "user_id": uid,
                            "seq": range(n0 + 1, n0 + len(vals) + 1),
                            "ema": ema.round(6).to_numpy(),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return part.mapInPandas(ema_batches, EMA_SCHEMA).orderBy("user_id", "seq")


# ---------------------------------------------------------------------------
# Structured Streaming form: applyInPandasWithState with per-key float
# state and processing-time timeout eviction (the reference's fade-out +
# evict-below-0.02, ui_app.cpp:254-263, maps to state timeout/removal).
# ---------------------------------------------------------------------------
STREAM_OUT_SCHEMA = "user_id BIGINT, n_seen BIGINT, ema DOUBLE"
STREAM_STATE_SCHEMA = "n_seen BIGINT, ema DOUBLE"


def ema_stream(events_stream: DataFrame) -> DataFrame:
    """events stream (user_id, ts, event_id, value) → running per-user
    EMA emitted on every micro-batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        n_seen, ema = state.get if state.exists else (0, None)
        # a group's rows can arrive split across several Arrow batches
        # in arbitrary relative order — concat THEN sort, or the fold
        # order (and therefore the EMA) depends on batch boundaries
        pdf = pd.concat(list(batches)).sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            v = float(v)
            ema = v if ema is None else ALPHA * v + (1 - ALPHA) * ema
            n_seen += 1
        state.update((n_seen, float(ema)))
        yield pd.DataFrame({"user_id": [user_id], "n_seen": [n_seen], "ema": [ema]})

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STREAM_OUT_SCHEMA,
        stateStructType=STREAM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Countdown-timer state machine as a TRUE stream op (reference S2,
# ui_app.cpp:301-308 — the per-player chess-clock countdown
# g_timer_countdown models on the frame axis): each user owns a
# 600-second budget; every event spends the gap since the user's
# previous event (capped at 60 s — idle time doesn't drain the clock);
# when the budget reaches zero the flag falls (expiration counted) and
# the clock resets. All integer microsecond arithmetic, so the stream
# loop and the oracle's closed form (expirations = cum div budget,
# remaining = budget - cum mod budget) agree exactly.
#
# At 100 TB: per-key state is three BIGINTs; the stateful shuffle is
# keyed by user_id; gap capping bounds any single spend, and the
# closed-form identity means the operator could ALSO run stateless on
# the batch path — the stream form exists for online serving.
# ---------------------------------------------------------------------------
CD_BUDGET_US = 600_000_000  # 600 s clock (reference: 10 min game clock)
CD_CAP_US = 60_000_000  # gaps cap at 60 s of drain

CD_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, consumed_us BIGINT, "
    "n_expirations BIGINT, remaining_us BIGINT"
)
CD_STATE_SCHEMA = "last_us BIGINT, rem_us BIGINT, n_exp BIGINT, n BIGINT"


def countdown_stream(events_stream: DataFrame) -> DataFrame:
    """events stream (user_id, ts, event_id, ...) → per-user clock
    state emitted every micro-batch."""
    from pyspark.sql.streaming.state import GroupState
    import numpy as np
    import pandas as pd

    budget, cap = 600_000_000, 60_000_000

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        last_us, rem, n_exp, n = (
            state.get if state.exists else (None, budget, 0, 0)
        )
        pdf = pd.concat(list(batches)).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        for t in ts_us:
            t = int(t)
            spend = 0 if last_us is None else min(t - last_us, cap)
            rem -= spend
            while rem <= 0:  # flag falls, clock resets
                n_exp += 1
                rem += budget
            last_us = t
            n += 1
        state.update((last_us, int(rem), int(n_exp), int(n)))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "consumed_us": [n_exp * budget + (budget - rem)],
                "n_expirations": [n_exp],
                "remaining_us": [rem],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CD_OUT_SCHEMA,
        stateStructType=CD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@register(
    "q80_stream_countdown",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
        LEAST(COALESCE(epoch_us(ts) - epoch_us(LAG(ts) OVER (
          PARTITION BY user_id ORDER BY ts, event_id)), 0),
          {CD_CAP_US}) AS spend
      FROM events),
    a AS (
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(spend) AS BIGINT) AS consumed
      FROM g GROUP BY user_id)
    SELECT user_id,
      CAST(n_events AS BIGINT) AS n_events,
      consumed AS consumed_us,
      consumed // {CD_BUDGET_US} AS n_expirations,
      {CD_BUDGET_US} - (consumed % {CD_BUDGET_US}) AS remaining_us
    FROM a ORDER BY user_id
    """,
)
def q80_stream_countdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql.window import Window

    from hive_clone_spark.streaming.streams import read_events_stream, run_to_memory

    src = read_events_stream(
        spark, os.path.join(sf_dir, "events.parque[t]"),
        columns=["user_id", "event_id", "ts"],
    )
    run_to_memory(countdown_stream(src), "q80_countdown", output_mode="update")
    t = spark.table("q80_countdown")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id", "n_events", "consumed_us", "n_expirations", "remaining_us"
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q94: TTL-evicted session state — the GroupStateTimeout mechanism the
# reference's ring fade-out eviction (S1, ui_app.cpp:248-263: animation
# state dropped once its alpha decays out) maps to at stream scale.
# Per-user session state lives in the store only while the user is
# active: a gap longer than _SESS_TTL closes the session IN DATA (the
# next event's arrival proves the gap), and the FINAL session of an
# inactive user is closed by an EventTimeTimeout — the watermark
# passing last_event + TTL fires hasTimedOut, the closed session is
# emitted, and state.remove() evicts the key. State is therefore
# bounded by the number of currently-active users, never by history —
# the property the state-size test pins via lastProgress.
#
# Determinism note (same pinned assumption as q66, streams.py read
# site): the testdata's events source is a single parquet file, so ALL
# data lands in micro-batch 0 and timeouts fire only in the final
# no-data batch at the terminal watermark max(ts) - delay. Under a
# multi-file backfill, mid-stream watermark advances could close an
# idle session by timeout BEFORE the user's next event arrives — the
# correct online behavior, but 'closed_by' would then depend on file
# arrival order; the oracle leans on the single-batch layout.
# Timeout-fire rule measured on this engine: a timeout set at T fires
# once the watermark is STRICTLY past T (ms resolution), mirrored in
# the oracle's settled-region predicate.
# ---------------------------------------------------------------------------
_SESS_TTL_US = 6 * 3600 * 1_000_000  # 6h inactivity closes a session
_SESS_DELAY_MS = 600_000  # 10 min watermark delay

SESS_OUT_SCHEMA = (
    "user_id BIGINT, sid BIGINT, n_events BIGINT, "
    "duration_us BIGINT, closed_by STRING"
)
SESS_STATE_SCHEMA = "sid BIGINT, start_us BIGINT, last_us BIGINT, n BIGINT"


def session_ttl_stream(events_stream: DataFrame) -> DataFrame:
    """events stream -> closed sessions (gap-closed in data,
    timeout-closed by watermark TTL eviction)."""
    from pyspark.sql.streaming.state import GroupState
    import numpy as np
    import pandas as pd

    ttl_us = _SESS_TTL_US

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        if state.hasTimedOut:
            sid, start_us, last_us, n = state.get
            state.remove()  # TTL eviction: key leaves the store
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "sid": [sid],
                    "n_events": [n],
                    "duration_us": [last_us - start_us],
                    "closed_by": ["timeout"],
                }
            )
            return
        pdf = pd.concat(list(batches)).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        sid, start_us, last_us, n = (
            state.get if state.exists else (1, None, None, 0)
        )
        closed = []
        for t in ts_us:
            t = int(t)
            if last_us is not None and t - last_us > ttl_us:
                closed.append(
                    (user_id, sid, n, last_us - start_us, "gap")
                )
                sid, start_us, last_us, n = sid + 1, t, t, 1
            else:
                start_us = t if start_us is None else start_us
                last_us, n = t, n + 1
        state.update((sid, start_us, last_us, n))
        # arm the TTL: evict once the watermark passes last + TTL
        state.setTimeoutTimestamp(last_us // 1000 + ttl_us // 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "sid", "n_events", "duration_us", "closed_by"],
            )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESS_OUT_SCHEMA,
        stateStructType=SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


@register(
    "q94_stream_session_ttl",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
    g AS (
      SELECT user_id, t,
        CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > {_SESS_TTL_US}
             THEN 1 ELSE 0 END AS is_start
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (
      SELECT user_id, t,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
    sess AS (
      SELECT user_id, sid, MIN(t) AS start_us, MAX(t) AS end_us,
             COUNT(*) AS n
      FROM s GROUP BY user_id, sid),
    mx AS (SELECT (MAX(t) // 1000) - {_SESS_DELAY_MS} AS wm_ms FROM e),
    lastsid AS (SELECT user_id, MAX(sid) AS msid FROM sess GROUP BY user_id)
    SELECT sess.user_id, CAST(sid AS BIGINT) AS sid,
      CAST(n AS BIGINT) AS n_events,
      CAST(end_us - start_us AS BIGINT) AS duration_us,
      CASE WHEN sid < msid THEN 'gap' ELSE 'timeout' END AS closed_by
    FROM sess JOIN lastsid ON sess.user_id = lastsid.user_id, mx
    WHERE sid < msid
       OR (end_us // 1000) + {_SESS_TTL_US // 1000} < mx.wm_ms
    ORDER BY sess.user_id, sid
    """,
)
def q94_stream_session_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hive_clone_spark.streaming.streams import read_events_stream, run_to_memory

    src = read_events_stream(
        spark, os.path.join(sf_dir, "events.parque[t]"),
        max_files_per_trigger=None,
        columns=["user_id", "event_id", "ts"],
    )
    stream = session_ttl_stream(src.withWatermark("ts", "10 minutes"))
    run_to_memory(stream, "q94_sessions", output_mode="append")
    return spark.table("q94_sessions").orderBy("user_id", "sid")


# ---------------------------------------------------------------------------
# q138: BOUNDED-STATE streaming top-k — the leaderboard operator: per
# event_type, maintain the k highest-value events seen so far. Unlike
# a windowed aggregate (state ∝ open windows) or a running per-user
# sum (state ∝ users), top-k state is CONSTANT per key: k
# (value, event_id, user_id) triples — the property that makes it safe
# on an unbounded stream with no watermark at all.
#
# This entry is the repo's first GENUINELY multi-batch stateful
# stream: the events table is staged into 6 parquet files and read
# with maxFilesPerTrigger=1, so state must survive and merge across 6
# micro-batches. File pickup ORDER is engine-internal (mod-time) and
# deliberately not relied on: top-k is order-INDEPENDENT, so the final
# state is exact whatever the batch interleaving — the invariant that
# makes a multi-batch test hash-deterministic.
#
# Ties broken by event_id (values have 2 decimals; collisions exist),
# mirrored in the oracle's ORDER BY value DESC, event_id. The final
# answer per key is its emission with the largest n_seen (a key absent
# from the last batch emitted its final state earlier — q80's pattern).
#
# Scale design: state store holds n_keys x k rows; each micro-batch
# shuffles only its own rows on the 3-key hash. At 100 TB/day this is
# the one top-k shape that never spills.
# ---------------------------------------------------------------------------
_TOPK = 5
_TOPK_FILES = 6

TOPK_OUT_SCHEMA = (
    "event_type STRING, n_seen BIGINT, vals ARRAY<DOUBLE>, "
    "ids ARRAY<BIGINT>, users ARRAY<BIGINT>"
)
TOPK_STATE_SCHEMA = (
    "vals ARRAY<DOUBLE>, ids ARRAY<BIGINT>, users ARRAY<BIGINT>, "
    "n_seen BIGINT"
)


def topk_stream(events_stream: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (etype,) = key
        if state.exists:
            vals, ids, users, n = state.get
            cand = list(zip(vals, ids, users))
        else:
            cand, n = [], 0
        for pdf in batches:
            n += len(pdf)
            cand.extend(
                zip(
                    (float(v) for v in pdf["value"]),
                    (int(i) for i in pdf["event_id"]),
                    (int(u) for u in pdf["user_id"]),
                )
            )
            cand.sort(key=lambda t: (-t[0], t[1]))
            cand = cand[:_TOPK]  # re-bound per batch: state stays O(k)
        vals = [v for v, _, _ in cand]
        ids = [i for _, i, _ in cand]
        users = [u for _, _, u in cand]
        state.update((vals, ids, users, int(n)))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_seen": [int(n)],
                "vals": [vals],
                "ids": [ids],
                "users": [users],
            }
        )

    return events_stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=TOPK_OUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@register(
    "q138_stream_topk",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, event_id, user_id, value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY value DESC, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n_seen
      FROM events)
    SELECT event_type, CAST(rk AS BIGINT) AS rank, event_id, user_id,
      value, CAST(n_seen AS BIGINT) AS n_seen
    FROM ranked WHERE rk <= {_TOPK}
    ORDER BY event_type, rank
    """,
)
def q138_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import (
        read_events_stream,
        run_to_memory,
    )

    src_dir = _warehouse(sf_dir, "topk_q138")
    # ts is never consumed by the top-k worker: don't stage it (guide §4)
    (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .repartition(_TOPK_FILES)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    src = read_events_stream(
        spark, src_dir, max_files_per_trigger=1,
        columns=["event_id", "user_id", "event_type", "value"],
    )
    run_to_memory(topk_stream(src), "q138_topk", output_mode="update")
    t = spark.table("q138_topk")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    final = (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    z = F.posexplode(F.arrays_zip("vals", "ids", "users"))
    return (
        final.select("event_type", "n_seen", z.alias("pos", "e"))
        .select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("e.ids").alias("event_id"),
            F.col("e.users").alias("user_id"),
            F.col("e.vals").alias("value"),
            "n_seen",
        )
        .orderBy("event_type", "rank")
    )


# ---------------------------------------------------------------------------
# q177: per-key rate limiting (throttle / debounce) as a stateful
# stream — the ingestion-edge operator that admits an event only if at
# least _THROTTLE_US has passed since the key's last ADMITTED event
# (first event always admitted). Unlike a windowed count limit, the
# greedy throttle's decision depends on the full admitted HISTORY (an
# admitted event resets the clock; a rejected one does not), which is
# exactly why it is a keyed-state operator and not a window function —
# and why the oracle is a per-user recursive CTE walking the same
# sequence, not an aggregate.
#
# State is O(1) per user (last admitted timestamp + two counters) —
# the state-store story at 100 TB is "number of active keys", never
# history. Determinism: single-file events source => all rows in
# micro-batch 0 (the q66/q80/q94 pinned assumption), sorted
# (ts, event_id) inside the update fn.
# ---------------------------------------------------------------------------
_THROTTLE_US = 12 * 3600 * 1_000_000  # one admission per 12h per user

THR_OUT_SCHEMA = (
    "user_id BIGINT, n_total BIGINT, n_accepted BIGINT, "
    "last_accept_us BIGINT"
)
THR_STATE_SCHEMA = "last_acc BIGINT, n_acc BIGINT, n_tot BIGINT"


def throttle_stream(events_stream: DataFrame) -> DataFrame:
    """events stream -> per-user admission census under the greedy
    12h throttle."""
    from pyspark.sql.streaming.state import GroupState
    import numpy as np
    import pandas as pd

    period = _THROTTLE_US

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        last_acc, n_acc, n_tot = state.get if state.exists else (None, 0, 0)
        pdf = pd.concat(list(batches)).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        for t in ts_us:
            t = int(t)
            n_tot += 1
            if last_acc is None or t >= last_acc + period:
                last_acc = t
                n_acc += 1
        state.update((last_acc, int(n_acc), int(n_tot)))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_total": [n_tot],
                "n_accepted": [n_acc],
                "last_accept_us": [last_acc],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=THR_OUT_SCHEMA,
        stateStructType=THR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@register(
    "q177_stream_throttle",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS t,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    sz AS (SELECT user_id, MAX(rn) AS m FROM ev GROUP BY user_id),
    th(user_id, rn, last_acc, n_acc) AS (
      SELECT user_id, rn, t, 1 FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
        CASE WHEN e.t >= th.last_acc + {_THROTTLE_US}
             THEN e.t ELSE th.last_acc END,
        th.n_acc + CASE WHEN e.t >= th.last_acc + {_THROTTLE_US}
                        THEN 1 ELSE 0 END
      FROM th JOIN ev e ON e.user_id = th.user_id AND e.rn = th.rn + 1)
    SELECT th.user_id,
      CAST(th.rn AS BIGINT) AS n_total,
      CAST(th.n_acc AS BIGINT) AS n_accepted,
      CAST(th.last_acc AS BIGINT) AS last_accept_us,
      th.n_acc * 1000 // th.rn AS accept_permille
    FROM th JOIN sz ON sz.user_id = th.user_id AND th.rn = sz.m
    ORDER BY th.user_id
    """,
)
def q177_stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql.window import Window

    from hive_clone_spark.streaming.streams import (
        read_events_stream,
        run_to_memory,
    )

    src = read_events_stream(
        spark, os.path.join(sf_dir, "events.parque[t]"),
        columns=["user_id", "event_id", "ts"],
    )
    run_to_memory(throttle_stream(src), "q177_throttle", output_mode="update")
    t = spark.table("q177_throttle")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_total"))
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            "n_total",
            "n_accepted",
            "last_accept_us",
            F.expr("n_accepted * 1000 div n_total").alias("accept_permille"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q205: KMV distinct-count sketch AS STREAM STATE — per event_type,
# maintain the k smallest distinct user-id hashes across micro-
# batches and answer "approximately how many distinct users so far"
# at every emission. The composition this entry pins: q95's KMV
# sketch (mergeable, oracle-exact estimate arithmetic) living inside
# applyInPandasWithState (q138's bounded-state discipline). State per
# key is O(k) FOREVER on an unbounded stream — the reason streaming
# systems carry sketches instead of exact distinct sets, whose state
# is O(ndv) and unbounded.
#
# Order independence makes the multi-batch test deterministic: a
# min-k set and a row count are the same whatever file-pickup order
# the engine chooses (q138's invariant). Hashes are computed by the
# JVM (portable md5) while STAGING the stream source, so the Python
# state function only merges integers — no per-row Python hashing.
#
# Scale design: state = n_keys x k longs; each micro-batch shuffles
# only its own rows; the final estimate is the same (k-1)*H/kth
# integer-exact formula q95's oracle replays. At 100 TB/day the
# sketch answer is always one state lookup — no scan, no rescan.
# ---------------------------------------------------------------------------
_SKMV_K = 64
_SKMV_FILES = 4

SKMV_OUT_SCHEMA = "event_type STRING, n_seen BIGINT, n_sketch BIGINT, kth BIGINT"
SKMV_STATE_SCHEMA = "mins ARRAY<BIGINT>, n_seen BIGINT"


def kmv_stream(hashed_stream: DataFrame) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (etype,) = key
        if state.exists:
            mins, n = state.get
            mins = set(mins)
        else:
            mins, n = set(), 0
        for pdf in batches:
            n += len(pdf)
            mins.update(int(h) for h in pdf["h"])
            # re-bound per batch: keep the k smallest distinct hashes
            if len(mins) > _SKMV_K:
                mins = set(sorted(mins)[:_SKMV_K])
        out = sorted(mins)
        state.update((out, int(n)))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_seen": [int(n)],
                "n_sketch": [len(out)],
                "kth": [out[-1] if len(out) == _SKMV_K else None],
            }
        )

    return hashed_stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=SKMV_OUT_SCHEMA,
        stateStructType=SKMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@register(
    "q205_stream_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
        {sql_portable_hash("CAST(user_id AS VARCHAR)")} AS h
      FROM events),
    ranked AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM hashed),
    sk AS (
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n_sketch,
        MAX(h) AS kth
      FROM ranked WHERE rk <= {_SKMV_K} GROUP BY event_type),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv
      FROM events GROUP BY event_type)
    SELECT b.event_type, b.n_seen, s.n_sketch,
      CASE WHEN s.n_sketch = {_SKMV_K} THEN s.kth ELSE NULL END AS kth,
      CASE WHEN s.n_sketch = {_SKMV_K}
           THEN ROUND(({_SKMV_K} - 1) * {float(1 << 60)} / s.kth, 6)
           ELSE CAST(s.n_sketch AS DOUBLE) END AS est_ndv,
      b.exact_ndv
    FROM base b JOIN sk s ON s.event_type = b.event_type
    ORDER BY b.event_type
    """,
)
def q205_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql.window import Window

    from hive_clone_spark.pipeline.common import portable_hash
    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import run_to_memory

    src_dir = _warehouse(sf_dir, "kmv_q205")
    # stage only (event_type, h): the kmv worker never reads
    # event_id/ts, and n_seen is a row count (guide §4 — prune before
    # the opaque state worker)
    (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            portable_hash(F.col("user_id").cast("string")).alias("h"),
        )
        .repartition(_SKMV_FILES)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    src = (
        spark.readStream.schema("event_type STRING, h BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    run_to_memory(kmv_stream(src), "q205_kmv", output_mode="update")
    t = spark.table("q205_kmv")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    final = (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_ndv"))
    )
    est = F.when(
        F.col("n_sketch") == _SKMV_K,
        F.round(
            F.lit(_SKMV_K - 1) * F.lit(float(1 << 60)) / F.col("kth"), 6
        ),
    ).otherwise(F.col("n_sketch").cast("double"))
    return (
        final.join(exact, "event_type")
        .select(
            "event_type",
            "n_seen",
            "n_sketch",
            "kth",
            est.alias("est_ndv"),
            "exact_ndv",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q228: composite-state per-user census — one keyed stream operator
# holding TWO state shapes at once: scalar running totals (event count
# + exact cents sum) AND a per-event-type count MAP, through
# applyInPandasWithState with the map encoded as two aligned ARRAY
# state columns (array-typed state is proven since q138).
# transformWithStateInPandas would spell the map as MapState, but its
# Python lane speaks protobuf to its state server, and google.protobuf
# is not a dependency of this project.
#
# Determinism (q138 discipline): events staged to 4 files, one file
# per micro-batch; every transition is a commutative monoid (counts,
# integer cents, per-type counts), so the final emission per user is
# exact under any engine-internal batch order. Final answer = the
# emission with the largest n_events per user (strictly increasing).
#
# At 100 TB: state is O(1) per user (two BIGINTs + a small-domain type
# map); stateful shuffle keyed by user_id.
# ---------------------------------------------------------------------------
_CENSUS_FILES = 4

CENSUS_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, n_types INT, "
    "top_type STRING, top_type_n BIGINT"
)
CENSUS_STATE_SCHEMA = (
    "n BIGINT, cents BIGINT, types ARRAY<STRING>, counts ARRAY<BIGINT>"
)


# census_merge/census_row live in streaming/_workers.py — the
# SELF-CONTAINED module the state functions register by value so task
# closures ship only worker code, not all of stateful.py (round-10
# verdict task 5).


def user_census(events_stream: DataFrame) -> DataFrame:
    """Per-user census state: running totals, with the census map riding
    as two aligned array state columns (sorted by type for a canonical
    encoding)."""
    # ship census_merge/census_row BY VALUE: module-level helpers
    # pickle by reference, and the driver contract imports this repo by
    # FILE PATH from a foreign cwd — executors then have no
    # hive_clone_spark on sys.path (caught by a /tmp-cwd sweep at
    # sf0.01: ModuleNotFoundError inside the state worker)
    from pyspark import cloudpickle as _cp

    import hive_clone_spark.streaming._workers as _wmod
    from hive_clone_spark.streaming._workers import census_merge, census_row

    _cp.register_pickle_by_value(_wmod)

    def update(key: tuple, batches: Iterator, state) -> Iterator:
        (user_id,) = key
        if state.exists:
            n, cents, types, counts = state.get
            census = dict(zip(list(types), (int(c) for c in counts)))
        else:
            n, cents, census = 0, 0, {}
        for pdf in batches:
            dn, dc = census_merge(census, pdf)
            n += dn
            cents += dc
        ts = sorted(census)
        state.update((n, cents, ts, [census[t] for t in ts]))
        yield census_row(user_id, n, cents, census)

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CENSUS_OUT_SCHEMA,
        stateStructType=CENSUS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@register(
    "q228_stream_composite_state",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    per_type AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY user_id, event_type),
    top AS (
      SELECT user_id, event_type, n,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY n DESC, event_type) AS rk
      FROM per_type),
    tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(cents) AS BIGINT) AS sum_cents,
        CAST(COUNT(DISTINCT event_type) AS INT) AS n_types
      FROM e GROUP BY user_id)
    SELECT t.user_id, t.n_events, t.sum_cents, t.n_types,
      top.event_type AS top_type, top.n AS top_type_n
    FROM tot t JOIN top ON top.user_id = t.user_id AND top.rk = 1
    ORDER BY t.user_id
    """,
)
def q228_stream_composite_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hive_clone_spark.sources.queries import _warehouse
    from hive_clone_spark.streaming.streams import (
        read_events_stream,
        run_to_memory,
    )

    src_dir = _warehouse(sf_dir, "tws_q228")
    # stage only the columns the census worker touches (guide §4):
    # event_id/ts would otherwise be written, re-read, shuffled on
    # user_id and shipped through the Python state boundary unused
    (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .repartition(_CENSUS_FILES)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    src = read_events_stream(
        spark, src_dir, max_files_per_trigger=1,
        columns=["user_id", "event_type", "value"],
    )
    run_to_memory(user_census(src), "q228_census", output_mode="update")
    t = spark.table("q228_census")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
        .orderBy("user_id")
    )
