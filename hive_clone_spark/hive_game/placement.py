"""Placement rules & reserve accounting (P1-P6, ui_app.cpp:498-587)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.hive_game.board import occupancy, tops
from hive_clone_spark.hive_game.fixtures import directions_df
from hive_clone_spark.session import local_rows

# Base-game reserve seed: 1Q/2S/2B/3G/3A per color (ui_app.cpp:500,
# README.md:25).
RESERVE_SEED = [("Queen", 1), ("Spider", 2), ("Beetle", 2), ("Grasshopper", 3), ("Ant", 3)]


def reserves(spark: SparkSession, pieces: DataFrame) -> DataFrame:
    """(color, bug, remaining): seed minus already-placed counts
    (P1, ui_app.cpp:498-510)."""
    seed = local_rows(
        spark,
        [(c, b, n) for c in ("White", "Black") for b, n in RESERVE_SEED],
        "color STRING, bug STRING, seeded INT",
    )
    placed = (
        pieces.where(F.col("on_board"))
        .groupBy("color", "bug")
        .agg(F.count("*").alias("n_placed"))
    )
    return (
        seed.join(placed, ["color", "bug"], "left")
        .select(
            "color",
            "bug",
            F.greatest(
                F.lit(0), F.col("seeded") - F.coalesce(F.col("n_placed"), F.lit(0))
            ).alias("remaining"),
        )
    )


def color_status(spark: SparkSession, pieces: DataFrame) -> DataFrame:
    """(color, queen_placed, placements_made): P2 (ui_app.cpp:513-524)
    and P3 (11 − Σ remaining, ui_app.cpp:526-533) in one pass."""
    res = reserves(spark, pieces)
    return res.groupBy("color").agg(
        F.max(F.when((F.col("bug") == "Queen") & (F.col("remaining") == 0), True).otherwise(False)).alias("queen_placed"),
        (F.lit(11) - F.sum("remaining")).cast("int").alias("placements_made"),
    )


def placement_targets(spark: SparkSession, pieces: DataFrame, color: str) -> DataFrame:
    """(to_q, to_r): legal placement cells for `color`
    (P6, ui_app.cpp:553-587):

      * empty board → the single cell (0,0) (ui_app.cpp:557-560)
      * candidates = distinct empty neighbors of any occupied cell
      * a color's FIRST placement may touch the opponent
        (quirk preserved, ui_app.cpp:576-578)
      * later placements must touch own color and not the opponent,
        judged on stack TOPS (ui_app.cpp:580-585)
    """
    dirs = F.broadcast(directions_df(spark))
    occ = occupancy(pieces)
    top = tops(pieces)

    if occ.isEmpty():  # empty board special case (literal 1-row DF)
        return local_rows(spark, [(0, 0)], "to_q INT, to_r INT")

    cands = (
        occ.join(dirs)
        .select(
            (F.col("q") + F.col("dq")).alias("to_q"),
            (F.col("r") + F.col("dr")).alias("to_r"),
        )
        .join(
            occ.select(F.col("q").alias("to_q"), F.col("r").alias("to_r")),
            ["to_q", "to_r"],
            "left_anti",
        )
        .dropDuplicates(["to_q", "to_r"])
    )

    placed_count = (
        pieces.where(F.col("on_board") & (F.col("color") == color)).limit(1).count()
    )
    if placed_count == 0:
        return cands  # first placement of this color: any candidate

    # top-colored neighbors per candidate
    top_nbrs = (
        cands.join(dirs)
        .select(
            "to_q",
            "to_r",
            (F.col("to_q") + F.col("dq")).alias("q"),
            (F.col("to_r") + F.col("dr")).alias("r"),
        )
        .join(top.select("q", "r", "color"), ["q", "r"])
    )
    own = top_nbrs.where(F.col("color") == color).select("to_q", "to_r").distinct()
    opp = top_nbrs.where(F.col("color") != color).select("to_q", "to_r").distinct()
    return (
        cands.join(own, ["to_q", "to_r"], "left_semi")
        .join(opp, ["to_q", "to_r"], "left_anti")
    )
