"""Per-bug legal-move generation (R7-R12, rules.cpp:136-344).

Everything is set-oriented and keyed by `piece_id`, so the same code
generates for one piece (the reference's `legalMovesForPiece` API,
rules.hpp:17) or every piece at once (`legal_moves_all`, the batched
scale path — one pass of joins instead of a per-piece loop).

Occupancy semantics: all lookups are "after lift" (mover's start cell
treated empty, rules.cpp:201-203). For queen/beetle/grasshopper the
reference uses full-state occupancy, but no lookup those generators
make can hit the start cell, so after-lift is equivalent — one uniform
view instead of two.

Move rows: (piece_id, from_q, from_r, to_q, to_r, kind, steps) with the
reference's quirks preserved: grasshopper steps=0 (rules.cpp:191), ant
steps=0 (rules.cpp:249), beetle-over-empty tagged 'Slide' even when
corridor-exempt (rules.cpp:178).

DELIBERATE DEVIATION (documented): the reference's ant BFS never marks
the start cell as seen, so it can emit the start as a "destination"
(rules.cpp:244-263); its own test asserts every destination is
unoccupied (test_rules.cpp:52-55), which the start is not. The tests
are the behavioral contract (FIXTURES.md), so `ant_moves` excludes the
start cell. Spider destinations are likewise deduplicated (the DFS can
reach one dest via several simple paths; test_rules.cpp:117-121 asserts
distinctness).

DELIBERATE DEVIATION (buried mover): for a mover BURIED under a beetle
the reference treats the mover's whole start stack as empty during
ant/spider exploration (rules.cpp:201-203 ignores every piece at the
start cell); this code subtracts only the mover's own contribution, so
the start cell stays occupied by the pieces above. The two differ ONLY
when generating slide moves for a non-top piece — a position real Hive
forbids (a buried piece may not move) and the reference tests never
exercise. The count-based view is kept deliberately: it is the
physically meaningful occupancy if such a state is ever queried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.hive_game.board import (
    DQS,
    DRS,
    adjacent_expr,
    corridor_ok_cols,
    dir_dq,
    dir_dr,
    neighbor_occ_counts,
    occupancy,
    pack_cell,
    with_occ_after_lift,
)
from hive_clone_spark.hive_game.connectivity import filter_hive_connected
from hive_clone_spark.hive_game.fixtures import directions_df
from hive_clone_spark.operators.iterate import fixpoint

MOVE_COLS = ["piece_id", "from_q", "from_r", "to_q", "to_r", "kind", "steps"]

def _dir_idx():
    """Exploded 0..5 direction index (lazy: F.lit needs a SparkContext)."""
    return F.explode(F.array(*[F.lit(i) for i in range(6)])).alias("dir_idx")


def movers_view(pieces: DataFrame, occ: DataFrame) -> DataFrame:
    """(piece_id, bug, color, from_q, from_r, h, from_emptied): one row
    per on-board piece, with whether lifting it empties its cell."""
    m = pieces.where(F.col("on_board")).select(
        "piece_id",
        "bug",
        "color",
        F.col("q").alias("from_q"),
        F.col("r").alias("from_r"),
        F.col("height").alias("h"),
    )
    return m.join(
        occ.select(F.col("q").alias("from_q"), F.col("r").alias("from_r"), "cnt"),
        ["from_q", "from_r"],
        "left",
    ).withColumn("from_emptied", F.coalesce(F.col("cnt"), F.lit(1)) == 1).drop("cnt")


def _add_perimeter(df: DataFrame, nbr: DataFrame, x: str, y: str, out: str, suffix: str) -> DataFrame:
    """Boolean `out`: cell (x,y) is adjacent to ≥1 occupied cell after
    lift ("on the hive perimeter", rules.cpp:205-212). Uses the global
    neighbor-count view + the lift adjustment (the from-cell stops
    contributing iff lifting emptied it)."""
    n = nbr.select(
        F.col("q").alias(f"_nq{suffix}"),
        F.col("r").alias(f"_nr{suffix}"),
        F.col("nbr_cnt").alias(f"_nc{suffix}"),
    )
    df = df.join(
        n,
        (F.col(x) == F.col(f"_nq{suffix}")) & (F.col(y) == F.col(f"_nr{suffix}")),
        "left",
    )
    lift = F.when(
        adjacent_expr(F.col(x), F.col(y), F.col("from_q"), F.col("from_r"))
        & F.col("from_emptied"),
        1,
    ).otherwise(0)
    return df.withColumn(
        out, (F.coalesce(F.col(f"_nc{suffix}"), F.lit(0)) - lift) > 0
    ).drop(f"_nq{suffix}", f"_nr{suffix}", f"_nc{suffix}")


def _finish(cands: DataFrame, movers: DataFrame, occ: DataFrame, kind: str, steps: int) -> DataFrame:
    gated = filter_hive_connected(cands, movers, occ)
    return gated.select(
        "piece_id",
        "from_q",
        "from_r",
        "to_q",
        "to_r",
        F.lit(kind).alias("kind"),
        F.lit(steps).cast("int").alias("steps"),
    )


# ---------------------------------------------------------------------------
# R7 — queen: one slide step to an empty neighbor (rules.cpp:136-144)
# ---------------------------------------------------------------------------
def queen_moves(movers: DataFrame, occ: DataFrame) -> DataFrame:
    m = movers.where(F.col("bug") == "Queen")
    cand = m.select("piece_id", "from_q", "from_r", _dir_idx())
    cand = cand.withColumn("to_q", F.col("from_q") + dir_dq(F.col("dir_idx")))
    cand = cand.withColumn("to_r", F.col("from_r") + dir_dr(F.col("dir_idx")))
    cand = with_occ_after_lift(cand, occ, "to_q", "to_r", "dest_occ", "qd")
    cand = cand.where(~F.col("dest_occ"))
    cand = corridor_ok_cols(cand, occ, "from_q", "from_r", "qc")
    cand = cand.where(F.col("corridor_ok"))
    return _finish(cand, movers, occ, "Slide", 1)


# ---------------------------------------------------------------------------
# R8 — beetle: step/climb to any neighbor; corridor only applies when
# moving ground-to-ground into an empty cell (rules.cpp:146-181)
# ---------------------------------------------------------------------------
def beetle_moves(movers: DataFrame, occ: DataFrame) -> DataFrame:
    m = movers.where(F.col("bug") == "Beetle")
    cand = m.select("piece_id", "from_q", "from_r", "h", _dir_idx())
    cand = cand.withColumn("to_q", F.col("from_q") + dir_dq(F.col("dir_idx")))
    cand = cand.withColumn("to_r", F.col("from_r") + dir_dr(F.col("dir_idx")))
    cand = with_occ_after_lift(cand, occ, "to_q", "to_r", "dest_occ", "bd")
    cand = corridor_ok_cols(cand, occ, "from_q", "from_r", "bc")
    # climb onto occupied: always (corridor ignored, rules.cpp:163-168);
    # onto empty: exempt when stepping down from a stack (rules.cpp:170-179)
    cand = cand.where(
        F.col("dest_occ") | (F.col("h") > 0) | F.col("corridor_ok")
    ).withColumn(
        "kind_", F.when(F.col("dest_occ"), "Climb").otherwise("Slide")
    )
    gated = filter_hive_connected(cand, movers, occ)
    return gated.select(
        "piece_id",
        "from_q",
        "from_r",
        "to_q",
        "to_r",
        F.col("kind_").alias("kind"),
        F.lit(1).cast("int").alias("steps"),
    )


# ---------------------------------------------------------------------------
# R9 — grasshopper: straight-ray jump over ≥1 contiguous occupied cells,
# landing on the first empty one (rules.cpp:184-194). Ray enumeration
# via sequence+explode bounded by the board's occupied-cell count; the
# first empty cell at k implies cells 1..k-1 were occupied.
# ---------------------------------------------------------------------------
def grasshopper_moves(movers: DataFrame, occ: DataFrame) -> DataFrame:
    m = movers.where(F.col("bug") == "Grasshopper")
    max_k = occ.agg((F.count("*") + 1).alias("max_k"))
    ray = (
        m.select("piece_id", "from_q", "from_r", _dir_idx())
        .join(max_k)  # 1-row cross join: ray length bound
        .select(
            "piece_id",
            "from_q",
            "from_r",
            "dir_idx",
            F.explode(F.sequence(F.lit(1), F.col("max_k"))).alias("k"),
        )
    )
    ray = ray.withColumn("cq", F.col("from_q") + dir_dq(F.col("dir_idx")) * F.col("k"))
    ray = ray.withColumn("cr", F.col("from_r") + dir_dr(F.col("dir_idx")) * F.col("k"))
    ray = with_occ_after_lift(ray, occ, "cq", "cr", "cell_occ", "gr")
    land = (
        ray.where(~F.col("cell_occ"))
        .groupBy("piece_id", "from_q", "from_r", "dir_idx")
        .agg(F.min("k").alias("k_land"))
        .where(F.col("k_land") >= 2)  # jumped over ≥1 piece
    )
    cand = land.select(
        "piece_id",
        "from_q",
        "from_r",
        (F.col("from_q") + dir_dq(F.col("dir_idx")) * F.col("k_land")).alias("to_q"),
        (F.col("from_r") + dir_dr(F.col("dir_idx")) * F.col("k_land")).alias("to_r"),
    )
    return _finish(cand, movers, occ, "Jump", 0)


# ---------------------------------------------------------------------------
# Shared slide-step expansion for ant/spider: from cells (cq, cr), step
# to every neighbor that is empty, on the perimeter, and corridor-legal
# (rules.cpp:215-224 / 272-295).
# ---------------------------------------------------------------------------
def _slide_step(cells: DataFrame, occ: DataFrame, nbr: DataFrame, cq: str, cr: str, tag: str) -> DataFrame:
    step = cells.select("*", _dir_idx())
    step = step.withColumn("nq", F.col(cq) + dir_dq(F.col("dir_idx")))
    step = step.withColumn("nr", F.col(cr) + dir_dr(F.col("dir_idx")))
    step = with_occ_after_lift(step, occ, "nq", "nr", "n_occ", f"o{tag}")
    step = step.where(~F.col("n_occ"))
    step = _add_perimeter(step, nbr, "nq", "nr", "n_perim", f"p{tag}")
    step = step.where(F.col("n_perim"))
    step = corridor_ok_cols(step, occ, cq, cr, f"c{tag}")
    step = step.where(F.col("corridor_ok"))
    return step.drop("dir_idx", "n_occ", "n_perim", "corridor_ok")


# ---------------------------------------------------------------------------
# R10 — ant: unbounded slide = BFS fixpoint over empty perimeter cells
# (rules.cpp:196-264). One `fixpoint` round per BFS level: the state is
# the visited set, `chg` marks the level's frontier (SURVEY.md §7 M3).
# ---------------------------------------------------------------------------
def ant_moves(movers: DataFrame, occ: DataFrame, nbr: DataFrame) -> DataFrame:
    m = movers.where(F.col("bug") == "Ant")
    start = m.select(
        "piece_id",
        "from_q",
        "from_r",
        "from_emptied",
        F.col("from_q").alias("cq"),
        F.col("from_r").alias("cr"),
    )

    def slide(cells: DataFrame, tag: str) -> DataFrame:
        return (
            _slide_step(cells, occ, nbr, "cq", "cr", tag)
            .select("piece_id", "from_q", "from_r", "from_emptied",
                    F.col("nq").alias("cq"), F.col("nr").alias("cr"))
            .dropDuplicates(["piece_id", "cq", "cr"])
        )

    def step(visited: DataFrame) -> DataFrame:
        # expand this round's frontier (chg), keep only unvisited cells
        reached = slide(visited.where("chg"), "ax").join(
            visited, ["piece_id", "cq", "cr"], "left_anti"
        )
        return visited.withColumn("chg", F.lit(False)).unionByName(
            reached.withColumn("chg", F.lit(True))
        )

    visited = fixpoint(slide(start, "a0").withColumn("chg", F.lit(True)), step, 128)
    cand = (
        visited
        # deviation (see module docstring): never emit the start cell
        .where(~((F.col("cq") == F.col("from_q")) & (F.col("cr") == F.col("from_r"))))
        .select("piece_id", "from_q", "from_r",
                F.col("cq").alias("to_q"), F.col("cr").alias("to_r"))
    )
    return _finish(cand, movers, occ, "Slide", 0)


# ---------------------------------------------------------------------------
# R11 — spider: exactly 3 slide steps, simple path (no revisits), dest ≠
# start (rules.cpp:268-331) — 3 chained join-steps carrying a path array.
# ---------------------------------------------------------------------------
def spider_moves(movers: DataFrame, occ: DataFrame, nbr: DataFrame) -> DataFrame:
    m = movers.where(F.col("bug") == "Spider")
    cur = m.select(
        "piece_id",
        "from_q",
        "from_r",
        "from_emptied",
        F.col("from_q").alias("cq"),
        F.col("from_r").alias("cr"),
        F.array(pack_cell(F.col("from_q"), F.col("from_r"))).alias("path"),
    )
    for step_i in range(3):
        stepped = _slide_step(cur, occ, nbr, "cq", "cr", f"s{step_i}")
        stepped = stepped.where(
            ~F.array_contains(F.col("path"), pack_cell(F.col("nq"), F.col("nr")))
        )
        cur = stepped.select(
            "piece_id",
            "from_q",
            "from_r",
            "from_emptied",
            F.col("nq").alias("cq"),
            F.col("nr").alias("cr"),
            F.concat(F.col("path"), F.array(pack_cell(F.col("nq"), F.col("nr")))).alias("path"),
        )
    cand = (
        cur.select("piece_id", "from_q", "from_r",
                   F.col("cq").alias("to_q"), F.col("cr").alias("to_r"))
        .dropDuplicates(["piece_id", "to_q", "to_r"])
    )
    return _finish(cand, movers, occ, "Slide", 3)


# ---------------------------------------------------------------------------
# R12 — dispatch (rules.cpp:334-344)
# ---------------------------------------------------------------------------
def legal_moves_all(spark: SparkSession, pieces: DataFrame, color: str | None = None) -> DataFrame:
    """Batched generation for every on-board piece (optionally one
    color): union of the five per-bug branches, each a set-oriented plan
    over the shared occupancy views."""
    if color is not None:
        pieces_f = pieces.where((F.col("color") == color) | ~F.col("on_board"))
    else:
        pieces_f = pieces
    occ = occupancy(pieces).localCheckpoint(eager=True)
    nbr = neighbor_occ_counts(occ, directions_df(spark)).localCheckpoint(eager=True)
    movers = movers_view(pieces_f, occ).localCheckpoint(eager=True)
    branches = [
        queen_moves(movers, occ),
        beetle_moves(movers, occ),
        grasshopper_moves(movers, occ),
        ant_moves(movers, occ, nbr),
        spider_moves(movers, occ, nbr),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def legal_moves(spark: SparkSession, pieces: DataFrame, piece_id: int) -> DataFrame:
    """The reference's single-piece API (`legalMovesForPiece`,
    rules.hpp:17): dispatch on the piece's bug, run only that branch."""
    row = pieces.where(
        (F.col("piece_id") == piece_id) & F.col("on_board")
    ).first()
    if row is None:
        raise ValueError(f"piece {piece_id} not on board")
    occ = occupancy(pieces).localCheckpoint(eager=True)
    movers_all = movers_view(pieces, occ)
    movers = movers_all.where(F.col("piece_id") == piece_id).localCheckpoint(eager=True)
    bug = row["bug"]
    if bug == "Queen":
        return queen_moves(movers, occ)
    if bug == "Beetle":
        return beetle_moves(movers, occ)
    nbr = neighbor_occ_counts(occ, directions_df(spark)).localCheckpoint(eager=True)
    if bug == "Grasshopper":
        return grasshopper_moves(movers, occ)
    if bug == "Ant":
        return ant_moves(movers, occ, nbr)
    if bug == "Spider":
        return spider_moves(movers, occ, nbr)
    raise ValueError(f"unknown bug {bug!r}")
