"""Full-game driver: the EP1-EP3 per-ply lifecycle as composed queries.

The reference's UI loop validates each ply against the rules and
re-evaluates game-over after EVERY transition (`ui_app.cpp:151-155`
for placements, `ui_app.cpp:187-191` for moves). This module drives a
scripted game through the SAME lifecycle using only the public
domain-layer queries — placement_targets / legal_moves gate each
action, add_piece / move_piece apply it, evaluate_game_over re-checks
after every ply — so a whole game is an integration of every operator
the per-ply entries verify individually.

Scale note: each ply localCheckpoints the ~22-row board, truncating
the otherwise per-ply-deepening lineage — the same fixpoint discipline
as operators/iterate.py, which is what keeps an N-ply replay O(N) and
not O(N^2) in plan size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.hive_game.fixtures import PIECES_SCHEMA
from hive_clone_spark.hive_game.gameover import evaluate_game_over
from hive_clone_spark.hive_game.movegen import legal_moves
from hive_clone_spark.hive_game.placement import (
    color_status,
    placement_targets,
    reserves,
)
from hive_clone_spark.hive_game.state import add_piece, move_piece
from hive_clone_spark.session import local_rows

# script actions:
#   ("place", piece_id, bug, color, q, r)
#   ("move",  piece_id, to_q, to_r)
Action = tuple


class IllegalPly(ValueError):
    """A scripted action the rules reject (wrong turn, bad target, …)."""


def _other(color: str) -> str:
    return "Black" if color == "White" else "White"


def play_game(
    spark: SparkSession, script: list[Action]
) -> tuple[str, DataFrame, list[str]]:
    """Replay a scripted game ply by ply under full rule enforcement.

    Every ply: (1) turn alternation (White first — ui_app.cpp:42), (2)
    action legality via placement_targets / legal_moves + reserve and
    queen-gate checks (P7-P9), (3) state transition, (4) game-over
    re-evaluation (EP3). Returns (final_verdict, final_board,
    per-ply verdicts). Raises IllegalPly on any rule violation —
    including a ply played after the game already ended.
    """
    board = local_rows(spark, [], PIECES_SCHEMA)
    turn = "White"
    verdicts: list[str] = []
    verdict = "None"
    for i, action in enumerate(script):
        if verdict != "None":
            raise IllegalPly(f"ply {i}: game already over ({verdict})")
        kind = action[0]
        if kind == "place":
            _, piece_id, bug, color, q, r = action
            if color != turn:
                raise IllegalPly(f"ply {i}: {color} placed out of turn ({turn} to act)")
            status = {s.color: s for s in color_status(spark, board).collect()}
            st = status.get(color)
            # P8 — queen by the 4th placement (ui_app.cpp:536-543)
            if st is not None and not st.queen_placed and st.placements_made >= 3 and bug != "Queen":
                raise IllegalPly(f"ply {i}: {color} must place the Queen by turn 4")
            rem = {
                (x.color, x.bug): x.remaining
                for x in reserves(spark, board).collect()
            }
            if rem.get((color, bug), 0) <= 0:
                raise IllegalPly(f"ply {i}: no {color} {bug} left in reserve")
            targets = {
                (t.to_q, t.to_r)
                for t in placement_targets(spark, board, color).collect()
            }
            if (q, r) not in targets:
                raise IllegalPly(
                    f"ply {i}: ({q},{r}) not a legal {color} placement "
                    f"(legal: {sorted(targets)})"
                )
            board = add_piece(spark, board, piece_id, bug, color, q, r)
        elif kind == "move":
            _, piece_id, to_q, to_r = action
            row = board.where(
                (board.piece_id == piece_id) & board.on_board
            ).first()
            if row is None:
                raise IllegalPly(f"ply {i}: piece {piece_id} not on board")
            if row.color != turn:
                raise IllegalPly(
                    f"ply {i}: {row.color} moved out of turn ({turn} to act)"
                )
            status = {s.color: s for s in color_status(spark, board).collect()}
            # P9 — no moves before your queen is placed (ui_app.cpp:546-551)
            if not status[row.color].queen_placed:
                raise IllegalPly(f"ply {i}: {row.color} may not move before queen")
            legal = {
                (m.to_q, m.to_r)
                for m in legal_moves(spark, board, piece_id).collect()
            }
            if (to_q, to_r) not in legal:
                raise IllegalPly(
                    f"ply {i}: piece {piece_id} -> ({to_q},{to_r}) illegal "
                    f"(legal: {sorted(legal)})"
                )
            board = move_piece(board, piece_id, to_q, to_r)
        else:
            raise IllegalPly(f"ply {i}: unknown action kind {kind!r}")
        board = board.localCheckpoint(eager=True)
        verdict = evaluate_game_over(spark, board).collect()[0].verdict
        verdicts.append(verdict)
        turn = _other(turn)
    return verdict, board, verdicts


# ---------------------------------------------------------------------------
# The two scripted full games (FIXTURES.md §A: g2/g3 terminal boards).
# White surround-s its own queen's flanks (the reference counts own
# pieces as surrounding — rules.cpp:33-37), Black delivers the last
# cell by ant move; the Draw game leaves ONE cell adjacent to BOTH
# queens and fills it last.
# ---------------------------------------------------------------------------
SCRIPT_BLACKWINS: list[Action] = [
    ("place", 0, "Queen", "White", 0, 0),
    ("place", 1, "Queen", "Black", 1, 0),
    ("place", 2, "Ant", "White", -1, 0),
    ("place", 3, "Ant", "Black", 2, 0),
    ("place", 4, "Ant", "White", 0, -1),
    ("move", 3, 1, -1),
    ("place", 5, "Ant", "White", -1, 1),
    ("place", 6, "Ant", "Black", 2, 0),
    ("place", 7, "Beetle", "White", -2, 0),
    ("move", 6, 0, 1),  # ant walks the perimeter in: BlackWins
]

SCRIPT_DRAW: list[Action] = [
    ("place", 0, "Queen", "White", 0, 0),
    ("place", 1, "Queen", "Black", 1, 0),
    ("place", 2, "Ant", "White", -1, 0),
    ("place", 3, "Ant", "Black", 2, 0),
    ("place", 4, "Ant", "White", 0, -1),
    ("place", 5, "Ant", "Black", 2, -1),
    ("place", 6, "Ant", "White", -1, 1),
    ("place", 7, "Grasshopper", "Black", 1, 1),
    ("place", 8, "Beetle", "White", 1, -2),
    ("place", 9, "Ant", "Black", 3, 0),
    ("move", 8, 1, -1),  # beetle steps into the shared flank
    ("move", 9, 0, 1),  # ant fills the one cell adjacent to BOTH queens
]
