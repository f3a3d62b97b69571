"""One-Hive rule (R6, rules.cpp:61-133) as set-oriented connectivity.

The reference runs a full BFS per candidate move. Per SURVEY.md §4 we
redesign (same results, better complexity): compute connected-component
labels of the lifted board ONCE per mover, then gate every candidate
with a pure join — the post-move hive `base ∪ {to}` is connected iff
every component of `base` touches (or contains) `to`.

The component labeling is an iterative min-label propagation fixpoint —
the one genuinely iterative operator Spark lacks built-in. Each
`operators/iterate.fixpoint` round is one aggregation on the
(piece_id, cell) key, checkpointed with its change count observed in
the same action (SURVEY.md §7 M3). At hypertable scale the labels stay
hash-partitioned on that key across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_clone_spark.hive_game.board import DQS, DRS, pack_cell
from hive_clone_spark.operators.iterate import fixpoint


def base_cells(movers: DataFrame, occ: DataFrame) -> DataFrame:
    """(piece_id, q, r): occupied cells after lifting each mover —
    the reference's delta-occupancy view (rules.cpp:76-96) keyed by
    mover so a batched call generates for many pieces at once."""
    lift = F.when(
        (F.col("q") == F.col("from_q")) & (F.col("r") == F.col("from_r")), 1
    ).otherwise(0)
    return (
        movers.select("piece_id", "from_q", "from_r")
        .join(occ)  # cross join: per-mover copy of the occupancy view
        .where((F.col("cnt") - lift) > 0)
        .select("piece_id", "q", "r")
    )


def component_labels(base: DataFrame) -> DataFrame:
    """(piece_id, q, r, label): connected-component label per cell via
    min-label propagation over hex adjacency."""

    def step(labels: DataFrame) -> DataFrame:
        # each cell's label goes to its 6 neighbors (null `own`) and to
        # itself (`own` = its old label); min per cell. Only cells of
        # `base` have an `own` row, so that filter drops the empty
        # neighbors without a join back to `base`.
        prop = labels.select(
            "piece_id", "q", "r", "label", F.col("label").alias("own")
        )
        for dq, dr in zip(DQS, DRS):
            prop = prop.unionByName(
                labels.select(
                    "piece_id",
                    (F.col("q") + dq).alias("q"),
                    (F.col("r") + dr).alias("r"),
                    "label",
                    F.lit(None).alias("own"),
                )
            )
        return (
            prop.groupBy("piece_id", "q", "r")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .where(F.col("own").isNotNull())
            .select(
                "piece_id", "q", "r", "label",
                (F.col("label") != F.col("own")).alias("chg"),
            )
        )

    return fixpoint(
        base.withColumn("label", pack_cell(F.col("q"), F.col("r"))), step, 64
    )


def filter_hive_connected(cands: DataFrame, movers: DataFrame, occ: DataFrame) -> DataFrame:
    """Keep candidates (piece_id, from_q, from_r, to_q, to_r, ...) whose
    move keeps the hive one component (R6). `to` merges every component
    it touches; legality ⇔ it touches all of them."""
    base = base_cells(movers, occ)
    labels = component_labels(base)
    n_comp = labels.groupBy("piece_id").agg(
        F.countDistinct("label").alias("n_comp")
    )

    # probe cells: to itself + its 6 neighbors
    probes = F.array(
        F.struct(F.col("to_q").alias("pq"), F.col("to_r").alias("pr")),
        *[
            F.struct(
                (F.col("to_q") + dq).alias("pq"), (F.col("to_r") + dr).alias("pr")
            )
            for dq, dr in zip(DQS, DRS)
        ],
    )
    probe = (
        cands.select("piece_id", "to_q", "to_r")
        .dropDuplicates(["piece_id", "to_q", "to_r"])
        .select("piece_id", "to_q", "to_r", F.explode(probes).alias("p"))
        .select("piece_id", "to_q", "to_r", F.col("p.pq").alias("pq"), F.col("p.pr").alias("pr"))
    )
    adj = (
        probe.join(
            labels,
            (probe.piece_id == labels.piece_id)
            & (probe.pq == labels.q)
            & (probe.pr == labels.r),
        )
        .groupBy(probe.piece_id, "to_q", "to_r")
        .agg(F.countDistinct("label").alias("adj_comp"))
    )
    out = (
        cands.join(adj, ["piece_id", "to_q", "to_r"], "left")
        .join(n_comp, ["piece_id"], "left")
        .where(
            F.coalesce(F.col("adj_comp"), F.lit(0))
            == F.coalesce(F.col("n_comp"), F.lit(0))
        )
        .drop("adj_comp", "n_comp")
    )
    return out
