"""Plan audit: dump the formatted physical plan of every registered
query and flag scale anti-patterns.

Red flags hunted:
  * CartesianProduct / BroadcastNestedLoopJoin on non-tiny inputs —
    a quadratic join that never survives a scale-up;
  * BatchEvalPython — a row-at-a-time Python UDF in the plan (only
    ArrowEvalPython / FlatMapGroupsInPandas are acceptable Python
    boundaries);
  * parquet scans without PushedFilters when the query filters on a
    scanned column (pushdown lost);
  * PYRESAMPLE — a Python operator in the stage right below a
    range-partitioning exchange: the exchange's sampling job runs the
    Python stage a second time (fix: `pipeline.common.ordered`);
  * PYCOALESCE — a grouped Python operator fed by an
    ENSURE_REQUIREMENTS exchange, which AQE coalesces into one task
    (fix: `pipeline.common.spread(df, *keys)` before the groupBy).

NESTEDLOOP is a review flag, not an automatic failure: a
BroadcastNestedLoopJoin whose build side is a literal handful of rows
(q18's 4 price bands, p_knn_*'s 5 query vectors, the 6-row hex
directions dim) is the intended plan for a theta join against a tiny
dimension. Anything bigger on the build side must become an equi join
(see p_dedup_simhash's band explode for the pattern).

Codegen is NOT audited from the static plan: with AQE enabled the
formatted explain of an unexecuted query carries no `codegen id`
markers, so the check would flag every query.

Usage: python tools/explain_audit.py [name ...]   (default: all)
Writes per-query plans to /tmp/plans/<name>.txt and prints a summary
line per query: flags or 'ok'.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hive_clone_spark import registry  # noqa: E402
from hive_clone_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


_TREE_NODE = re.compile(r"^(\s*)(?:[+\-:*\s]*)\s*([A-Za-z][^()]*?) +\((\d+)\)\s*$")

# Nodes that pass their input through 1:1 (or shrink it) — walking the
# direct child chain of a Window through these finds what actually
# bounds (or fails to bound) the window's input row count.
_PASSTHROUGH = {
    "Sort",
    "Project",
    "Filter",
    "Exchange",
    "Window",
    "WindowGroupLimit",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
}
_BOUNDING = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit"}


def _split_toplevel_lists(s: str) -> list[str]:
    """Split 'Arguments: [a], [b], [c]' into its top-level [...] groups."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(s[start : i + 1])
                start = None
    return groups


def _parse(plan: str) -> tuple[list[list[tuple[int, str, str]]], dict[str, str]]:
    """Split a formatted plan into its operator trees and node details.

    Trees: the main '== Physical Plan ==' tree first, then one per
    'Subquery:' section; each is a list of (depth, node_name, node_id)
    in print order, where depth is the column of the node name, so a
    node's subtree is the run of deeper nodes that follows it. Details:
    node id -> the text of its '(N) NodeName' block."""
    trees: list[list[tuple[int, str, str]]] = []
    details: dict[str, str] = {}
    tree, cur = None, None
    for ln in plan.splitlines():
        if ln.startswith("== Physical Plan") or ln.startswith("Subquery:"):
            tree, cur = [], None
            trees.append(tree)
            continue
        if tree is not None:
            m = _TREE_NODE.match(ln)
            if m:
                tree.append((m.start(2), m.group(2), m.group(3)))
                continue
            if not ln.strip():
                tree = None
            continue
        m = re.match(r"^\((\d+)\) [A-Za-z]", ln)
        if m:
            cur = m.group(1)
            details[cur] = ""
        elif cur is not None:
            details[cur] += ln + "\n"
    return trees, details


def _unbounded_global_windows(plan: str) -> bool:
    """True iff the plan has a Window with an EMPTY partition spec whose
    input is fed by an Exchange SinglePartition with no limit node on the
    direct child chain — i.e. a global sort-all-rows window that would
    single-partition an unbounded input at scale. A global window whose
    chain shows TakeOrderedAndProject/GlobalLimit first is bounded and
    fine (the p_vocab_build limit-first shape)."""
    trees, details = _parse(plan)
    if not trees:
        return False
    tree = trees[0]
    for idx, (indent, nm, nid) in enumerate(tree):
        if nm != "Window":
            continue
        args_line = next(
            (l for l in details.get(nid, "").splitlines() if l.startswith("Arguments:")),
            "",
        )
        if len(_split_toplevel_lists(args_line)) >= 3:
            continue  # partitioned window
        # walk the direct child chain (strictly deeper indents following)
        saw_single_exchange = False
        bounded = False
        for cindent, cnm, cnid in tree[idx + 1 :]:
            if cindent <= indent:
                break
            if cnm in _BOUNDING:
                bounded = True
                break
            if cnm == "Exchange" and "SinglePartition" in details.get(cnid, ""):
                saw_single_exchange = True
            if cnm not in _PASSTHROUGH:
                break  # agg/join/scan — bounding must come from semantics
        if saw_single_exchange and not bounded:
            return True
    return False


# Python (Arrow) operators: MapInPandas, FlatMapGroupsInPandas,
# ArrowEvalPython, MapInArrow, ...
_PYTHON_NODE = re.compile(r"Pandas|Python|Arrow")
# Nodes that end a stage below them: a shuffle or broadcast, or a cache
# whose first materialization the later jobs reuse.
_STAGE_BOUNDARY = {
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "InMemoryTableScan",
}


def _stage_nodes(tree, idx):
    """The nodes below tree[idx] that run in its stage, in print order,
    plus the stage-boundary nodes where that stage's inputs come from
    (whose own subtrees are not entered)."""
    depth = tree[idx][0]
    inside, boundaries, cut = [], [], None
    for node in tree[idx + 1 :]:
        if node[0] <= depth:
            break
        if cut is not None and node[0] > cut:
            continue
        cut = None
        if node[1] in _STAGE_BOUNDARY:
            boundaries.append(node)
            cut = node[0]
        else:
            inside.append(node)
    return inside, boundaries


def _python_resamples(plan: str) -> bool:
    """True iff a Python operator runs in the stage right below a
    range-partitioning exchange (an `orderBy` over `mapInPandas`).
    `RangePartitioner` first runs a sampling job over the exchange's
    child, so that stage, Python workers included, runs twice."""
    trees, details = _parse(plan)
    for tree in trees:
        for idx, (_, nm, nid) in enumerate(tree):
            if nm == "Exchange" and "rangepartitioning(" in details.get(nid, ""):
                inside, _ = _stage_nodes(tree, idx)
                if any(_PYTHON_NODE.search(n[1]) for n in inside):
                    return True
    return False


def _python_coalesced(plan: str) -> bool:
    """True iff a grouped Python operator is fed by an ENSURE_REQUIREMENTS
    exchange: AQE coalesces that shuffle's small partitions, so every
    group runs one after another in a single task. An explicit-count
    `repartition(n, *keys)` (`pipeline.common.spread`) is exempt."""
    trees, details = _parse(plan)
    for tree in trees:
        for idx, (_, nm, _) in enumerate(tree):
            if nm in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
                _, feeds = _stage_nodes(tree, idx)
                if any("ENSURE_REQUIREMENTS" in details.get(n[2], "") for n in feeds):
                    return True
    return False


def audit(name: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        # acceptable when one side is a handful of literal rows; flag for review
        flags.append("NESTEDLOOP")
    if "BatchEvalPython" in plan:
        flags.append("ROWPYTHON")
    if re.search(r"PushedFilters: \[\]", plan) and "Filter" in plan:
        flags.append("NOPUSHDOWN?")
    if _unbounded_global_windows(plan):
        # unpartitioned window whose input is NOT limit-bounded: every
        # row funnels through one partition's sort — the p_dedup_chunk
        # round-5 defect. Fix shape: orderBy().limit(k) first
        # (TakeOrderedAndProject), THEN rank over the k survivors.
        flags.append("GLOBALWINDOW")
    if _python_resamples(plan):
        # fix shape: pipeline.common.ordered, a single-partition sort
        flags.append("PYRESAMPLE")
    if _python_coalesced(plan):
        # fix shape: pipeline.common.spread(df, *keys) before the groupBy
        flags.append("PYCOALESCE")
    if name == "q37_salted_join":
        # the manual salt must survive into the physical join keys —
        # if an optimizer change or refactor drops it, the hot key
        # collapses back onto one partition (tests/test_bench_gate.py
        # runs the same check in CI)
        key_lines = [
            ln for ln in plan.splitlines() if re.search(r"(Left|Right) keys \[", ln)
        ]
        if not key_lines or any("salt" not in ln for ln in key_lines):
            flags.append("SALTLOST")
    return flags


def main() -> None:
    registry.load_all_modules()
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    names = sys.argv[1:] or sorted(registry.QUERIES)
    outdir = Path("/tmp/plans")
    outdir.mkdir(exist_ok=True)
    for name in names:
        try:
            df = registry.QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {str(e)[:120]}")
            continue
        (outdir / f"{name}.txt").write_text(plan)
        flags = audit(name, plan)
        print(f"{name}: {' '.join(flags) if flags else 'ok'}")


if __name__ == "__main__":
    main()
