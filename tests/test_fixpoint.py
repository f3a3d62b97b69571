"""Model checks for `operators/iterate.fixpoint`, the engine's one
convergence loop.

Connected components over small random undirected graphs must equal a
pure-Python union-find, and the call must cost exactly one SQL
execution per round (the observed checkpoint) plus the one edge
checkpoint: the round count comes from a synchronous min-label model of
the same propagation. A round budget below the rounds needed raises.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hive_clone_spark.operators.graph import connected_components
from hive_clone_spark.operators.iterate import fixpoint

# (n vertices 0..n-1, undirected edge list; self-loops and repeats allowed)
graphs = st.integers(min_value=1, max_value=12).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            max_size=2 * n,
        ),
    )
)


def _union_find(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in range(n)}


def _min_label_rounds(n: int, edges: list[tuple[int, int]]) -> int:
    """Rounds of synchronous min-label propagation, the last one being
    the round that changes nothing."""
    label = list(range(n))
    rounds = 1
    while True:
        new = label[:]
        for u, v in edges:
            new[u] = min(new[u], label[v])
            new[v] = min(new[v], label[u])
        if new == label:
            return rounds
        label = new
        rounds += 1


def _next_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() + 1 if n else 0


@settings(max_examples=12, deadline=None)
@given(graph=graphs)
def test_connected_components_matches_union_find(spark, graph):
    n, edges = graph
    verts = spark.createDataFrame([(v,) for v in range(n)], "id LONG")
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")

    before = _next_execution_id(spark)
    comp = connected_components(verts, edf)
    executions = _next_execution_id(spark) - before

    assert {r["id"]: r["component"] for r in comp.collect()} == _union_find(n, edges)
    assert executions == 1 + _min_label_rounds(n, edges)


def test_fixpoint_raises_when_rounds_run_out(spark):
    def step(state):
        # x counts up to 3; rounds one and two change it, round three not
        x = state["x"] + (state["x"] < 3).cast("int")
        return state.select(x.alias("x"), (x != state["x"]).alias("chg"))

    seed = spark.createDataFrame([(1,)], "x INT")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        fixpoint(seed, step, 2)
    out = fixpoint(seed, step, 3)
    assert out.columns == ["x"]
    assert out.collect()[0]["x"] == 3
