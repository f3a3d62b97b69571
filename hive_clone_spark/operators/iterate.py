"""Iterative fixpoints: the driver-side loop runner AND the Spark 4
`WITH RECURSIVE` execution path, with the boundary between them
documented.

The reference's BFS/connectivity computations (R6 keepsHiveConnectedAfter,
rules.cpp:61-133; R10 antMoves, rules.cpp:196-264) and the warehouse-scale
min-label and relaxation loops are iterative queries Spark has no single
built-in for. `fixpoint` is the engine's only convergence loop: each round
is ONE Spark action, an eager `localCheckpoint` of the step's output that
also carries the round's change count as an observed metric
(`Dataset.observe`), so convergence costs no second probe action and the
lineage (and thus task-serialization cost) is cut every round — the
classic failure mode of naive iterative Spark.

WHY CONNECTED COMPONENTS KEEPS THE DRIVER LOOP (verified on Spark
4.1.2, round 5): Spark's recursive CTEs support only UNION ALL —
UNION raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — and reject
aggregates over the recursive reference
(INVALID_RECURSIVE_REFERENCE.PLACE). Without dedup or per-step MIN, a
min-label flood on a CYCLIC graph never terminates: any edge (u, v)
with label l < min(u, v) re-emits (u,l)/(v,l) forever (duplicates are
never collapsed), so q32/p_dedup_resolve cannot be expressed as a
recursive CTE — this matches the classical result that CC needs
recursive aggregation, not just linear recursion. The DuckDB oracles
CAN use `WITH RECURSIVE ... UNION` because DuckDB dedups.

What a Spark recursive CTE CAN run safely is MONOTONE recursion — a
step key that strictly increases so each row derives exactly once.
`q64_recursive_streaks` below is that execution path at data scale
(order-date chain extension, row_number strictly increasing), with the
DuckDB oracle running the structurally identical recursive SQL.

On a cluster the state stays partitioned by its key across rounds, so
each step is a co-partitioned join, not a full reshuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.registry import register


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
) -> DataFrame:
    """Replace ``state`` by ``step(state)`` until a round changes nothing;
    return the final state without its ``chg`` column.

    ``step`` receives the previous round's state (round one: ``state``
    as given) and returns the next one with a boolean ``chg`` column
    that is true on every row the round changed or added. Each round is
    one action: the checkpoint that materializes the new state also
    counts its changed rows. Raises ``RuntimeError`` when round
    ``max_rounds`` still changed a row.
    """
    for _ in range(max_rounds):
        obs = Observation()
        state = (
            step(state)
            .observe(obs, F.count_if("chg").alias("n"))
            .localCheckpoint(eager=True)
        )
        if obs.get["n"] == 0:
            return state.drop("chg")
    raise RuntimeError(f"fixpoint did not converge in {max_rounds} rounds")


# ---------------------------------------------------------------------------
# Q64 — the WITH RECURSIVE execution path (Spark 4 recursive CTE),
# exercised on a recursion UNION ALL can run safely: 7-day order
# streaks per customer. The anchor is every order with no predecessor
# within 7 days; the recursive step extends a chain by the IMMEDIATE
# next order (row_number + 1) when it lands within 7 days — the step
# key rn strictly increases, so every chain row derives exactly once
# and the recursion terminates without dedup. The module docstring
# records why the cyclic-graph fixpoints (q32, p_dedup_resolve) cannot
# take this path on Spark 4.1.
#
# Scale: the recursion depth is the longest streak (data-bounded,
# small); each level is one co-partitioned join on (custkey, rn).
# ---------------------------------------------------------------------------
_STREAK_SPARK_SQL = """
WITH RECURSIVE o2 AS (
  SELECT custkey, d,
         row_number() OVER (PARTITION BY custkey ORDER BY d) AS rn
  FROM (SELECT DISTINCT o_custkey AS custkey, o_orderdate AS d
        FROM __streak_orders
        WHERE o_orderdate >= DATE'1995-01-01'
          AND o_orderdate <= DATE'1995-03-31') t
),
chain(custkey, anchor_d, end_d, end_rn, len) AS (
  SELECT c.custkey, c.d, c.d, c.rn, 1
  FROM o2 c LEFT JOIN o2 p
    ON p.custkey = c.custkey AND p.rn = c.rn - 1
  WHERE p.d IS NULL OR datediff(c.d, p.d) > 7
  UNION ALL
  SELECT ch.custkey, ch.anchor_d, n.d, n.rn, ch.len + 1
  FROM chain ch JOIN o2 n
    ON n.custkey = ch.custkey AND n.rn = ch.end_rn + 1
  WHERE datediff(n.d, ch.end_d) <= 7
)
SELECT custkey,
       date_format(anchor_d, 'yyyy-MM-dd') AS streak_start,
       date_format(MAX(end_d), 'yyyy-MM-dd') AS streak_end,
       CAST(MAX(len) AS BIGINT) AS streak_len
FROM chain
GROUP BY custkey, anchor_d
HAVING MAX(len) >= 2
ORDER BY custkey, streak_start
"""


@register(
    "q64_recursive_streaks",
    # structurally identical recursive CTE in the DuckDB dialect
    # (datediff/strftime spellings differ, recursion shape does not)
    oracle="""
    WITH RECURSIVE o2 AS (
      SELECT custkey, d,
             row_number() OVER (PARTITION BY custkey ORDER BY d) AS rn
      FROM (SELECT DISTINCT o_custkey AS custkey, o_orderdate AS d
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate <= DATE '1995-03-31') t
    ),
    chain(custkey, anchor_d, end_d, end_rn, len) AS (
      SELECT c.custkey, c.d, c.d, c.rn, 1
      FROM o2 c LEFT JOIN o2 p
        ON p.custkey = c.custkey AND p.rn = c.rn - 1
      WHERE p.d IS NULL OR datediff('day', p.d, c.d) > 7
      UNION ALL
      SELECT ch.custkey, ch.anchor_d, n.d, n.rn, ch.len + 1
      FROM chain ch JOIN o2 n
        ON n.custkey = ch.custkey AND n.rn = ch.end_rn + 1
      WHERE datediff('day', ch.end_d, n.d) <= 7
    )
    SELECT custkey,
           strftime(anchor_d, '%Y-%m-%d') AS streak_start,
           strftime(MAX(end_d), '%Y-%m-%d') AS streak_end,
           CAST(MAX(len) AS BIGINT) AS streak_len
    FROM chain
    GROUP BY custkey, anchor_d
    HAVING MAX(len) >= 2
    ORDER BY custkey, streak_start
    """,
)
def q64_recursive_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("__streak_orders")
    return spark.sql(_STREAK_SPARK_SQL)


# ---------------------------------------------------------------------------
# Q166 — bill-of-materials explosion (recursive rollup): the classic
# manufacturing query — every part needs quantity q of its parent
# assembly's input; how much of each ANCESTOR does one unit of each
# leaf ultimately require? The hierarchy is derived from the part
# table (parent(k) = k div 7, a 7-ary tree rooted at 0; edge quantity
# 1 + k mod 5), the explosion multiplies quantities along the
# ancestor path, and the per-DEPTH ledger aggregates the whole
# traversal into a schema-bounded (log_7 |part|) result.
#
# This is the MONOTONE recursion Spark 4's WITH RECURSIVE executes
# natively (depth strictly increases, a tree gives each path exactly
# one derivation — the q64 criterion; cyclic/min-label shapes stay on
# the fixpoint() driver loop, see module docstring). The oracle runs
# the structurally identical recursive CTE in DuckDB.
#
# Scale design: each recursion level is one co-partitioned
# self-derivation of the frontier (no dedup, no aggregate inside the
# recursion — exactly what Spark's recursive CTE permits); path
# quantities stay in int64 (<= 5^8); the final aggregate is map-side
# combinable into <= 8 depth rows.
# ---------------------------------------------------------------------------
_BOM_SPARK_SQL = """
WITH RECURSIVE bom(part, anc, qty, depth) AS (
  SELECT p_partkey, p_partkey div 7, 1 + p_partkey % 5, 1
  FROM __bom_parts WHERE p_partkey >= 1
  UNION ALL
  SELECT part, anc div 7, qty * (1 + anc % 5), depth + 1
  FROM bom WHERE anc >= 1
)
SELECT depth,
  CAST(COUNT(*) AS BIGINT) AS n_paths,
  CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors,
  CAST(SUM(qty) AS BIGINT) AS total_qty
FROM bom
GROUP BY depth
ORDER BY depth
"""


@register(
    "q166_bom_explosion",
    oracle="""
    WITH RECURSIVE bom(part, anc, qty, depth) AS (
      SELECT p_partkey, p_partkey // 7, 1 + p_partkey % 5, 1
      FROM part WHERE p_partkey >= 1
      UNION ALL
      SELECT part, anc // 7, qty * (1 + anc % 5), depth + 1
      FROM bom WHERE anc >= 1
    )
    SELECT CAST(depth AS INT) AS depth,
      CAST(COUNT(*) AS BIGINT) AS n_paths,
      CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors,
      CAST(SUM(qty) AS BIGINT) AS total_qty
    FROM bom
    GROUP BY depth
    ORDER BY depth
    """,
)
def q166_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("__bom_parts")
    return spark.sql(_BOM_SPARK_SQL)


# ---------------------------------------------------------------------------
# Q204 — topological generations of a dependency DAG (longest-path
# depth per node): the build-scheduler / dataflow-planner query —
# generation g contains everything whose deepest dependency chain has
# length g, i.e. the earliest wave it may execute in. The DAG derives
# from the part table (node k>=1 depends on k div 2 AND k div 3 —
# two converging parents make it a genuine DAG, not a tree, so depth
# really is a longest-path problem, and kahn-style/ BFS level order
# would be WRONG without the max).
#
# Execution is iterative RELAXATION, not path enumeration:
# g_{i+1}(k) = max(g_i(k), max_parents(g_i(parent)+1)), repeated until
# no row changes — O(V) state and O(E) work per round for
# critical-path-length rounds (~log2 N here), each step one broadcast
# edge join + map-side-combinable max over a union, K steps fused per
# fixpoint() round (one checkpoint per round). Enumerating
# root-to-node paths instead multiplies rows by the path count
# (superpolynomial on converging DAGs) — the oracle CAN afford it at
# test scale via DuckDB's deduplicating recursive UNION on (node,
# depth) pairs, which is exactly the check the engine's relaxation
# must reproduce.
# ---------------------------------------------------------------------------
@register(
    "q204_topo_generations",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT child, par FROM (
        SELECT p_partkey AS child, p_partkey // 2 AS par
        FROM part WHERE p_partkey >= 1
        UNION ALL
        SELECT p_partkey, p_partkey // 3 FROM part WHERE p_partkey >= 1) t),
    reach(node, depth) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION
      SELECT e.child, r.depth + 1 FROM reach r JOIN edges e ON e.par = r.node),
    gen AS (SELECT node, MAX(depth) AS g FROM reach GROUP BY node)
    SELECT CAST(g AS BIGINT) AS generation,
      CAST(COUNT(*) AS BIGINT) AS n_nodes,
      CAST(MIN(node) AS BIGINT) AS min_node,
      CAST(SUM(node) AS BIGINT) AS node_key_sum
    FROM gen GROUP BY g ORDER BY generation
    """,
)
def q204_topo_generations(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") >= 1)
    edges = (
        p.select(
            F.col("p_partkey").alias("child"),
            F.expr("p_partkey div 2").alias("par"),
        )
        .unionAll(
            p.select(
                F.col("p_partkey").alias("child"),
                F.expr("p_partkey div 3").alias("par"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused once per relaxation round
    )
    # g := 0 for every node (root included); relax until stable.
    # (children ∪ parents via one explode+distinct — the previous
    # per-side distincts were redundant work ahead of the outer
    # distinct: 3 exchanges where 1 suffices, guide §2.4)
    gen = (
        edges.selectExpr("explode(array(child, par)) AS node")
        .distinct()
        .select("node", F.lit(0).cast("int").alias("g"))
        .localCheckpoint(eager=True)
    )
    # Fuse K relaxation steps into each fixpoint round: the relax
    # operator is monotone and idempotent at the fixpoint, so applying
    # it K times before checking convergence reaches the same fixpoint
    # in ceil(D/K) rounds instead of D — the action count (one
    # checkpoint per round) drops by ~K while total join work is
    # unchanged. The round's starting generation rides along as a g0
    # column, so chg is a column of the same aggregate, not a separate
    # self-join (guide §2.4: remove shuffles outright).
    # Each step is ONE aggregation instead of a join+agg+left-join
    # chain: g'(n) = max over the union of (n, g(n)) and, per edge
    # par->n, (n, g(par)+1) — the same relaxation with half the
    # exchanges per step (guide §2.4). The edge side is broadcast
    # (tiny vs the node state at any scale where |E| << |V|·rounds of
    # shuffle; at cluster scale the planner falls back to a shuffle
    # join automatically if edges outgrow the broadcast threshold).
    K = 4

    def relax(gen: DataFrame) -> DataFrame:
        cur = gen.select("node", "g", F.col("g").alias("g0"))
        for _ in range(K):
            bump = F.broadcast(edges).join(
                cur, edges.par == cur.node
            ).select(
                F.col("child").alias("node"),
                (F.col("g") + 1).alias("g"),
                F.lit(None).cast("int").alias("g0"),
            )
            cur = (
                cur.unionByName(bump)
                .groupBy("node")
                .agg(
                    F.max("g").cast("int").alias("g"),
                    F.max("g0").alias("g0"),
                )
            )
        return cur.select("node", "g", (F.col("g") != F.col("g0")).alias("chg"))

    gen = fixpoint(gen, relax, 64)
    return (
        gen.groupBy(F.col("g").cast("long").alias("generation"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.sum("node").alias("node_key_sum"),
        )
        .orderBy("generation")
    )
