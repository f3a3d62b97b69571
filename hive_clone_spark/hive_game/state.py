"""Immutable state transitions (E1/E2, engine.cpp:8-36).

The reference mutates `std::vector<Piece>` in place and renumbers stack
heights imperatively; here each transition is a pure DataFrame →
DataFrame transform with heights re-derived by a window — the Spark
idiom for the same semantics (SURVEY.md §1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_clone_spark.hive_game.fixtures import PIECES_SCHEMA
from hive_clone_spark.session import local_rows


def _renumber(pieces: DataFrame) -> DataFrame:
    """Re-derive stack heights 0..n-1 per cell, preserving vertical
    order (the reference renumbers after every insert/erase,
    engine.cpp:12-15, 24-33). Off-board rows keep height as-is."""
    w = Window.partitionBy("on_board", "q", "r").orderBy("height", "piece_id")
    return pieces.withColumn(
        "height",
        F.when(F.col("on_board"), F.row_number().over(w) - 1).otherwise(F.col("height")),
    )


def add_piece(
    spark: SparkSession,
    pieces: DataFrame,
    piece_id: int,
    bug: str,
    color: str,
    q: int,
    r: int,
    height: int | None = None,
) -> DataFrame:
    """E1 `addDemoPiece` (engine.cpp:8-16): insert at clamped height
    (top of stack when height is None, NEGATIVE, or too large —
    engine.cpp:12 clamps both out-of-range directions to stack.size()),
    renumber.

    The reference inserts AT the requested index and shifts the
    incumbent up (engine.cpp:13), so an explicit height must order the
    new row AHEAD of a same-height incumbent regardless of piece_id.
    Heights are ints, so the pre-renumber sort key doubles existing
    heights (2h) and slots the insert at 2h-1 — strictly between the
    incumbent below and the one displaced up."""
    ins_key = 2 * 10**6 if height is None or height < 0 else 2 * height - 1
    new_row = local_rows(
        spark,
        [(piece_id, bug, color, True, q, r, ins_key)],
        PIECES_SCHEMA,
    )
    scaled = pieces.withColumn(
        "height",
        F.when(F.col("on_board"), F.col("height") * 2).otherwise(F.col("height")),
    )
    return _renumber(scaled.unionByName(new_row))


def move_piece(pieces: DataFrame, piece_id: int, to_q: int, to_r: int) -> DataFrame:
    """E2 `movePiece` (engine.cpp:18-36): lift the piece off its stack,
    push it on top of the destination stack, renumber both — expressed
    as one filter ∪ union with window renumbering (no copies)."""
    moved = (
        pieces.where(F.col("piece_id") == piece_id)
        .withColumn("q", F.lit(to_q))
        .withColumn("r", F.lit(to_r))
        .withColumn("height", F.lit(10**6))  # above any stack → lands on top
        .withColumn("on_board", F.lit(True))
    )
    rest = pieces.where(F.col("piece_id") != piece_id)
    return _renumber(rest.unionByName(moved))
