"""Iterative graph queries on the driver's data-scale tables (M3 on
warehouse data, not just fixture boards): connected components via
min-label propagation.

The algorithm is the one `hive_game/connectivity.py` uses for the
one-hive rule (R6, rules.cpp:61-133), here applied to a graph derived
from `orders`: customers are vertices; an edge links two customers who
ordered on the same day in 1995-Q1 (a co-activity graph — date
equality is bucketing both engines compute identically). Labels start
as each vertex's own id and every round takes the min over
neighbors — O(diameter) `fixpoint` rounds, each one Spark action (a
shuffle on the vertex id, checkpointed, change count observed).

At 100 TB: min-label propagation is the scalable CC algorithm
(GraphFrames uses the same shape); the per-iteration shuffle is on
vertex id, AQE splits skewed hubs, and the iteration count is bounded
by graph diameter, not row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.operators.iterate import fixpoint
from hive_clone_spark.registry import register


def _active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(custkey, order day) pairs for 1995 Q1 — the bipartite base of
    the co-activity graph."""
    o = table(spark, sf_dir, "orders")
    return (
        o.where((F.year("o_orderdate") == 1995) & (F.quarter("o_orderdate") == 1))
        .select(F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("day"))
        .distinct()
    )


_ACTIVE_SQL = """
    SELECT DISTINCT o_custkey AS custkey, o_orderdate AS day
    FROM orders
    WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 1
"""


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label propagation: vertices(id), edges(src, dst) undirected.
    Returns (id, component) where component = min vertex id reachable.

    One `fixpoint` round per propagation step. Deliberately a driver
    loop, not a recursive CTE: Spark 4.1's WITH RECURSIVE is UNION
    ALL-only and bars aggregates over the recursive reference, so a
    label flood on a cyclic graph never terminates (see
    operators/iterate.py's module docstring; the monotone-recursion CTE
    path lives there as q64)."""
    # Materialize the edge set ONCE before iterating: every round joins
    # against it, and without the checkpoint each round re-executes the
    # caller's full edge-producing DAG (for p_dedup_resolve that DAG is
    # the entire MinHash+LSH pipeline).
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    def step(labels: DataFrame) -> DataFrame:
        # neighbor labels + own label, min per vertex; the vertex's old
        # label rides through the same groupBy as `own`
        return (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "component", F.lit(None).alias("own"))
            .unionByName(labels.select("id", "component", F.col("component").alias("own")))
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.min("own").alias("own"))
            .select("id", "component", (F.col("component") != F.col("own")).alias("chg"))
        )

    return fixpoint(vertices.select("id", F.col("id").alias("component")), step, 32)


@register(
    "q32_connected_components",
    oracle=f"""
    WITH RECURSIVE act AS ({_ACTIVE_SQL}),
    edges AS (
      SELECT DISTINCT a.custkey AS src, b.custkey AS dst
      FROM act a JOIN act b ON a.day = b.day AND a.custkey <> b.custkey),
    verts AS (SELECT DISTINCT custkey AS id FROM act),
    -- min-label flood: (vertex, label) pairs; a label spreads along an
    -- edge whenever it is smaller than the destination id
    reach(id, lbl) AS (
      SELECT id, id FROM verts
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lbl < e.dst)
    SELECT id AS custkey, MIN(lbl) AS component
    FROM reach GROUP BY id ORDER BY custkey
    """,
)
def q32_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale design: do NOT materialize the per-day cliques (quadratic in
    # customers-per-day — the oracle can, its data is sf0.01). Run CC on
    # the BIPARTITE customer–day graph instead: same components over
    # customers, edges linear in the activity table. Day vertices get
    # ids above every custkey so min-labels are always customer ids.
    act = _active(spark, sf_dir)
    day_id = (F.lit(1 << 40) + F.datediff(F.col("day"), F.lit("1995-01-01"))).cast(
        "long"
    )
    edges = act.select(
        F.col("custkey").cast("long").alias("src"), day_id.alias("dst")
    ).distinct()
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        connected_components(verts, edges)
        .where(F.col("id") < (1 << 40))  # drop the day super-vertices
        .select(F.col("id").alias("custkey"), "component")
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Q69 — triangle counting + global clustering coefficient over the
# co-activity graph, via DEGREE-ORDERED edge orientation (Cohen's
# MapReduce triangle algorithm, the GraphX/GraphFrames shape): every
# edge is directed from its (degree, id)-smaller endpoint to the
# larger, so each triangle is counted exactly once at its
# smallest-degree vertex and — the scale point — the wedge join's
# fan-out per vertex is bounded by its ORIENTED out-degree, which
# degree-ordering caps near sqrt(|E|) even on hub-heavy graphs. An
# id-only orientation would leave a celebrity hub with millions of
# out-edges and a quadratic wedge explosion; degree-ordering is what
# makes the same join safe at 100 TB.
#
# (degree, id) is already a total order, so the orientation needs NO
# global rank window — just a broadcast-joinable degree table.
#
# Skew bound on the EDGE BUILDER (round-5 fix): the co-activity
# projection act ⋈ act ON day emits |actives(day)|² pairs per day
# BEFORE the distinct, so one hot day with 10⁶ actives would emit 10¹²
# rows — the hub problem reintroduced one stage before the (hub-safe)
# triangle core. The graph is therefore DEFINED over at most _DAY_CAP
# actives per day (deterministic: the _DAY_CAP smallest custkeys,
# ranked by a day-partitioned — never global — window), which caps the
# worst day at _DAY_CAP² pre-distinct pairs and the rank itself at one
# linear per-day sort. The oracle applies the identical cap, so the cap
# is part of the operator's contract, not a silent truncation. At the
# test SFs (≤ ~60 actives/day at sf0.1) the cap never binds.
# ---------------------------------------------------------------------------
_DAY_CAP = 500


@register(
    "q69_triangle_count",
    oracle=f"""
    WITH act0 AS ({_ACTIVE_SQL}),
    act AS (
      SELECT custkey, day FROM (
        SELECT custkey, day,
          ROW_NUMBER() OVER (PARTITION BY day ORDER BY custkey) AS rn
        FROM act0)
      WHERE rn <= {_DAY_CAP}),
    e0 AS (
      SELECT DISTINCT a.custkey AS u, b.custkey AS v
      FROM act a JOIN act b ON a.day = b.day AND a.custkey < b.custkey),
    deg AS (
      SELECT custkey, COUNT(*) AS d FROM (
        SELECT u AS custkey FROM e0 UNION ALL SELECT v FROM e0)
      GROUP BY custkey),
    oe AS (
      SELECT
        CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
             THEN e0.u ELSE e0.v END AS s,
        CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
             THEN e0.v ELSE e0.u END AS t,
        CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
             THEN dv.d ELSE du.d END AS dt
      FROM e0
      JOIN deg du ON e0.u = du.custkey
      JOIN deg dv ON e0.v = dv.custkey),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM oe a
      JOIN oe b ON a.s = b.s
              AND ((a.dt < b.dt) OR (a.dt = b.dt AND a.t < b.t))
      JOIN oe c ON c.s = a.t AND c.t = b.t)
    SELECT
      (SELECT COUNT(DISTINCT custkey) FROM act) AS n_vertices,
      (SELECT COUNT(*) FROM e0) AS n_edges,
      (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
      (SELECT n_triangles FROM tri) AS n_triangles,
      ROUND(3.0 * (SELECT n_triangles FROM tri)
            / (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)
        AS clustering_coeff
    """,
)
def q69_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # per-day cap (see header comment): day-partitioned rank, then the
    # pair join fans out at most _DAY_CAP² rows per day
    wday = Window.partitionBy("day").orderBy("custkey")
    act = (
        _active(spark, sf_dir)
        .withColumn("rn", F.row_number().over(wday))
        .where(F.col("rn") <= _DAY_CAP)
        .drop("rn")
    )
    a = act.select(F.col("custkey").alias("u"), "day")
    b = act.select(F.col("custkey").alias("v"), "day")
    e0 = (
        a.join(b, "day")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)  # consumed by deg + 3 join legs
    )
    deg = (
        e0.select(F.col("u").alias("custkey"))
        .unionAll(e0.select(F.col("v").alias("custkey")))
        .groupBy("custkey")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("custkey").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("custkey").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e0.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
        .localCheckpoint(eager=False)  # three self-join legs below
    )
    a1 = oe.select(F.col("s"), F.col("t").alias("t1"), F.col("dt").alias("dt1"))
    b1 = oe.select(F.col("s"), F.col("t").alias("t2"), F.col("dt").alias("dt2"))
    wedges = a1.join(b1, "s").where(
        (F.col("dt1") < F.col("dt2"))
        | ((F.col("dt1") == F.col("dt2")) & (F.col("t1") < F.col("t2")))
    )
    closing = oe.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = wedges.join(closing, ["t1", "t2"]).agg(
        F.count("*").alias("n_triangles")
    )
    nv = act.agg(F.countDistinct("custkey").alias("n_vertices"))
    ne = e0.agg(F.count("*").alias("n_edges"))
    nw = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    out = (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(tri))
    )
    return out.select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "clustering_coeff"
        ),
    )


# ---------------------------------------------------------------------------
# Q76 — PageRank over the (capped, symmetrized) co-activity graph.
#
# INTEGER-SCALED arithmetic: ranks live as BIGINT micro-probabilities
# (SCALE = 1e12) and every division is floor division —
#   contrib(u->v)  = pr(u) div outdeg(u)
#   pr'(v)         = (15*SCALE) div (100*N)  +  (85 * sum contribs) div 100
# so Spark and DuckDB produce bit-identical ranks with no float
# accumulation-order dependence (the same trick q65 uses decimals for).
# Dangling mass: the symmetrized graph has none (every vertex with an
# edge has out-edges); isolated vertices aren't part of the edge set by
# construction.
#
# At 100 TB: each iteration is ONE shuffle on dst (the contribution
# aggregate) after a src-keyed join against the checkpointed
# edge+outdeg table; hubs are additive (SUM combines map-side), and the
# iteration count is fixed (_PR_ITERS), not data-dependent. The edge
# build reuses q69's per-day cap, so the quadratic pair stage stays
# bounded on hot days.
# ---------------------------------------------------------------------------
_PR_SCALE = 10**12
_PR_ITERS = 3
_PR_TOPK = 20


def _pr_iter_sql(i: int) -> str:
    prev = f"pr{i - 1}"
    return f"""
    pr{i} AS (
      SELECT v.custkey,
        (SELECT b FROM base) + (85 * COALESCE(s.c, 0)) // 100 AS pr
      FROM verts v LEFT JOIN (
        SELECT e.dst, CAST(SUM(p.pr // d.od) AS BIGINT) AS c
        FROM edges e
        JOIN {prev} p ON e.src = p.custkey
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst) s ON v.custkey = s.dst)"""


@register(
    "q76_pagerank",
    oracle=f"""
    WITH act0 AS ({_ACTIVE_SQL}),
    act AS (
      SELECT custkey, day FROM (
        SELECT custkey, day,
          ROW_NUMBER() OVER (PARTITION BY day ORDER BY custkey) AS rn
        FROM act0)
      WHERE rn <= {_DAY_CAP}),
    e0 AS (
      SELECT DISTINCT a.custkey AS u, b.custkey AS v
      FROM act a JOIN act b ON a.day = b.day AND a.custkey < b.custkey),
    edges AS (
      SELECT u AS src, v AS dst FROM e0
      UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT src AS custkey FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    base AS (SELECT (15 * {_PR_SCALE}::BIGINT) // (100 * n) AS b FROM nv),
    pr0 AS (
      SELECT custkey, {_PR_SCALE}::BIGINT // (SELECT n FROM nv) AS pr
      FROM verts),
    {",".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
    SELECT custkey, CAST(pr AS BIGINT) AS pr_scaled
    FROM pr{_PR_ITERS}
    ORDER BY pr DESC, custkey LIMIT {_PR_TOPK}
    """,
)
def q76_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    wday = Window.partitionBy("day").orderBy("custkey")
    act = (
        _active(spark, sf_dir)
        .withColumn("rn", F.row_number().over(wday))
        .where(F.col("rn") <= _DAY_CAP)
        .drop("rn")
    )
    a = act.select(F.col("custkey").alias("u"), "day")
    b = act.select(F.col("custkey").alias("v"), "day")
    e0 = a.join(b, "day").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    edges = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    # edge + out-degree joined ONCE, checkpointed: the loop re-joins it
    # every iteration and must not re-run the quadratic pair build
    edges_deg = edges.join(outdeg, "src").localCheckpoint(eager=True)
    verts = edges_deg.select(F.col("src").alias("custkey")).distinct()
    n = verts.count()
    base = (15 * _PR_SCALE) // (100 * n)
    pr = verts.select("custkey", F.lit(_PR_SCALE // n).cast("long").alias("pr"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges_deg.join(pr, edges_deg.src == pr.custkey)
            .select(F.col("dst"), F.expr("pr div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        pr = (
            verts.join(contrib, verts.custkey == contrib.dst, "left")
            .select(
                "custkey",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(c, 0) div 100")
                ).cast("long").alias("pr"),
            )
            .localCheckpoint(eager=True)  # cut per-iteration lineage
        )
    return (
        pr.orderBy(F.desc("pr"), "custkey")
        .limit(_PR_TOPK)
        .select("custkey", F.col("pr").alias("pr_scaled"))
    )


# ---------------------------------------------------------------------------
# q101: single-source cheapest route (SSSP) over the nation shipping
# graph. Vertices are nations; the edge (s -> c) exists when a
# supplier nation shipped to a customer nation, weighted by the
# CHEAPEST single shipment between the pair (integer cents — the
# synthetic shipdates run before their orderdates, so latency is not a
# usable metric here). The query: from NATION_0, the minimum total
# cost to reach every other nation, allowing multi-hop routes (a relay
# through a cheap intermediate beats an expensive direct edge — on
# this data most optima are 2-3 hops).
#
# Scale design: the 100 TB work is the EDGE AGGREGATION — lineitem ⋈
# orders ⋈ customer ⋈ supplier reduced to one MIN per nation pair
# (map-side combined; the shuffle carries |nation|^2 <= 625 rows, the
# two dimension joins broadcast). The solve itself runs on a graph
# whose size is fixed by the schema (25 vertices), so it executes as
# driver-side Bellman-Ford on the collected 600-row edge list — the
# aggregate-to-small-graph-then-solve-exactly shape, same contract as
# the BPE trainer's driver-side argmax. The oracle chains 12
# relaxation rounds as CTEs (strictly more than the graph's diameter;
# the Spark side asserts convergence).
# ---------------------------------------------------------------------------
_SSSP_ROUNDS = 12
_SSSP_SOURCE = 0  # n_nationkey of NATION_0


def _sssp_round(i: int) -> str:
    prev = f"d{i - 1}"
    return f"""
    d{i} AS MATERIALIZED (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS id, p.dist + e.w AS dist
        FROM {prev} p JOIN edges e ON e.src = p.id)
      GROUP BY id)
    """


@register(
    "q101_sssp_cheapest_route",
    oracle=f"""
    WITH edges AS MATERIALIZED (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
        MIN(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2),
    d0 AS MATERIALIZED (SELECT {_SSSP_SOURCE} AS id, CAST(0 AS BIGINT) AS dist),
    {",".join(_sssp_round(i) for i in range(1, _SSSP_ROUNDS + 1))}
    SELECT n.n_name, d.dist AS cost_cents
    FROM d{_SSSP_ROUNDS} d JOIN nation n ON n.n_nationkey = d.id
    ORDER BY n.n_name
    """,
)
def q101_sssp_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.min("cents").alias("w"))
    )
    # the reduced graph is schema-bounded (<= 625 edges): solve exactly
    # on the driver, Bellman-Ford until fixpoint
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in edges.collect():
        adj.setdefault(int(r["src"]), []).append((int(r["dst"]), int(r["w"])))
    dist = {_SSSP_SOURCE: 0}
    for rounds in range(_SSSP_ROUNDS + 1):
        changed = False
        for u, d in list(dist.items()):
            for v, w in adj.get(u, []):
                if d + w < dist.get(v, float("inf")):
                    dist[v] = d + w
                    changed = True
        if not changed:
            break
    if changed:
        raise RuntimeError("sssp: no fixpoint within the round budget")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ddf = spark.createDataFrame(
        [(k, v) for k, v in dist.items()], "id INT, cost_cents BIGINT"
    )
    return (
        ddf.join(F.broadcast(n), ddf.id == n.n_nationkey)
        .select("n_name", "cost_cents")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q137 — k-core decomposition: the standard "dense community" peel
# (repeatedly drop every vertex whose degree among SURVIVORS is < k
# until fixpoint — Seidman 1983, the building block behind community
# mining and graph sparsification). The graph is deterministic on the
# 25 nation keys: a 10-clique (ids < 10) embedded in a portable-md5
# background (~20% density), so the 5-core is a PROPER nontrivial
# subset (the clique plus the background vertices it keeps alive —
# 14 nodes, converging in 4 simultaneous-peel rounds; peripheral
# vertices cascade out, the exact behavior a fixed-threshold filter
# gets wrong).
#
# Oracle: 8 unrolled MATERIALIZED peel rounds (q101's lesson — without
# MATERIALIZED, DuckDB inlines the chain and re-expands the subtree
# 2^8x); extra rounds past convergence are no-ops because the peel is
# monotone. The Spark side asserts fixpoint within the same budget, so
# a fixture change that needs more rounds fails loudly on both sides.
#
# Scale design: the distributed phase reduces the data to a
# schema-bounded graph (<= 25 nodes / ~300 edges); the peel itself
# runs on the driver exactly like q101's Bellman-Ford — at 100 TB the
# reduction is the parallel work and the peel cost is fixed by the
# schema, not the data. For corpus-sized graphs the same peel is the
# q32/q76 iterate-checkpoint shape (degree-filter per round).
# ---------------------------------------------------------------------------
_KCORE_K = 5
_KCORE_ROUNDS = 8
_KCORE_CLIQUE = 10
_KCORE_MOD = 5


def _kcore_oracle() -> str:
    hash_expr = (
        "(('0x' || substr(md5(CAST(a.id AS VARCHAR) || '-' "
        "|| CAST(b.id AS VARCHAR)), 1, 15))::BIGINT)"
    )
    its = []
    prev = "it0"
    for i in range(1, _KCORE_ROUNDS + 1):
        its.append(
            f"it{i} AS MATERIALIZED (SELECT t.id FROM {prev} t "
            f"JOIN sym s ON s.u = t.id JOIN {prev} t2 ON s.v = t2.id "
            f"GROUP BY t.id HAVING COUNT(*) >= {_KCORE_K})"
        )
        prev = f"it{i}"
    return f"""
    WITH nodes AS (SELECT n_nationkey AS id FROM nation),
    edges AS (
      SELECT a.id AS u, b.id AS v FROM nodes a JOIN nodes b ON a.id < b.id
      WHERE (a.id < {_KCORE_CLIQUE} AND b.id < {_KCORE_CLIQUE})
         OR {hash_expr} % {_KCORE_MOD} = 0),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    it0 AS MATERIALIZED (SELECT id FROM nodes),
    {','.join(its)}
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM {prev} t JOIN sym s ON s.u = t.id JOIN {prev} t2 ON s.v = t2.id
    JOIN nation n ON n.n_nationkey = t.id
    GROUP BY n.n_name ORDER BY n.n_name
    """


@register("q137_kcore_decomposition", oracle=_kcore_oracle())
def q137_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.pipeline.common import portable_hash

    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"), "n_name"
    )
    a = n.select(F.col("id").alias("u"))
    b = n.select(F.col("id").alias("v"))
    edges_df = (
        a.join(F.broadcast(b), F.col("u") < F.col("v"))
        .where(
            ((F.col("u") < _KCORE_CLIQUE) & (F.col("v") < _KCORE_CLIQUE))
            | (
                portable_hash(
                    F.concat_ws(
                        "-",
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    )
                )
                % _KCORE_MOD
                == 0
            )
        )
        .select("u", "v")
    )
    # schema-bounded graph (<= 25 nodes): exact peel on the driver
    edges = [(int(r["u"]), int(r["v"])) for r in edges_df.collect()]
    cur = {int(r["id"]) for r in n.select("id").collect()}
    for _ in range(_KCORE_ROUNDS):
        deg: dict[int, int] = {x: 0 for x in cur}
        for u, v in edges:
            if u in cur and v in cur:
                deg[u] += 1
                deg[v] += 1
        nxt = {x for x in cur if deg[x] >= _KCORE_K}
        if nxt == cur:
            break
        cur = nxt
    else:
        raise RuntimeError("kcore: no fixpoint within the round budget")
    core_deg = {x: 0 for x in cur}
    for u, v in edges:
        if u in cur and v in cur:
            core_deg[u] += 1
            core_deg[v] += 1
    out = spark.createDataFrame(
        sorted(core_deg.items()), "id INT, core_degree BIGINT"
    )
    return (
        out.join(F.broadcast(table(spark, sf_dir, "nation")),
                 out.id == F.col("n_nationkey"))
        .select("n_name", "core_degree")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q152 — bipartite node similarity (common-neighbor Jaccard): which
# suppliers are interchangeable? Two suppliers are similar when they
# ship the same parts — the bipartite supplier-part graph (distinct
# (l_suppkey, l_partkey) edges from lineitem) projected onto supplier
# pairs, scored by Jaccard of their part sets:
#
#   J(s1, s2) = |P(s1) ∩ P(s2)| / (|P(s1)| + |P(s2)| - |∩|)
#
# This is the neighborhood-similarity primitive behind link prediction
# and entity resolution (GraphFrames/Neo4j expose it as nodeSimilarity).
#
# Scale design (100 TB): pairs are generated ONLY through shared parts
# (self-join on l_partkey with s1 < s2) — never all supplier pairs —
# so cost is sum over parts of deg², the co-occurrence bound. The
# production guard for hub skew is explicit: parts shipped by more
# than _SIM_HUB_CAP suppliers are EXCLUDED from pair generation (a
# part half the market ships carries no similarity signal but
# quadratic cost — the standard cap in minhash/node-similarity
# systems); the oracle applies the same cap, so the bound is part of
# the verified semantics. Intersection counts are integers; the one
# division happens in double, rounded, at output. Top-k via
# TakeOrdered, no global window.
# ---------------------------------------------------------------------------
_SIM_HUB_CAP = 32
_SIM_TOPK = 20


@register(
    "q152_node_similarity",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    ok AS (
      SELECT p FROM e GROUP BY p HAVING COUNT(*) <= {_SIM_HUB_CAP}),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY s),
    co AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS inter
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      JOIN ok ON ok.p = a.p
      GROUP BY a.s, b.s),
    scored AS (
      SELECT co.s1, co.s2, co.inter,
        d1.d + d2.d - co.inter AS uni,
        ROUND(CAST(co.inter AS DOUBLE) / (d1.d + d2.d - co.inter), 6)
          AS jaccard
      FROM co JOIN deg d1 ON d1.s = co.s1 JOIN deg d2 ON d2.s = co.s2)
    SELECT s1, s2, inter, uni, jaccard
    FROM scored
    ORDER BY jaccard DESC, s1, s2
    LIMIT {_SIM_TOPK}
    """,
)
def q152_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ok = e.groupBy("p").agg(F.count("*").alias("np")).where(
        F.col("np") <= _SIM_HUB_CAP
    ).select("p")
    deg = e.groupBy("s").agg(F.count("*").cast("bigint").alias("d"))
    a = e.join(ok, "p").select("p", F.col("s").alias("s1"))
    b = e.select("p", F.col("s").alias("s2"))
    co = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    scored = (
        co.join(deg.withColumnRenamed("s", "s1").withColumnRenamed("d", "d1"), "s1")
        .join(deg.withColumnRenamed("s", "s2").withColumnRenamed("d", "d2"), "s2")
        .select(
            "s1",
            "s2",
            "inter",
            (F.col("d1") + F.col("d2") - F.col("inter")).alias("uni"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("jaccard"), "s1", "s2").limit(_SIM_TOPK)


# ---------------------------------------------------------------------------
# Q158 — synchronous label propagation (community detection): every
# vertex starts labeled with its own id; each round, a vertex adopts
# the label carried by the MOST of its neighbors (ties -> smallest
# label). Raghavan et al. 2007's near-linear community detector — the
# standard first answer to "which documents/users cluster together"
# when modularity-grade quality isn't worth a global optimization.
# Asynchronous LPA is run-order-dependent (useless under a value-hash
# oracle); the SYNCHRONOUS variant with a total (count DESC, label
# ASC) tie-break is fully deterministic, and a fixed unroll on both
# engines pins every round.
#
# Graph: deterministic on the 25 nation keys — two 8-cliques (ids
# 0-7, 8-15) joined by one bridge edge (7,8), plus a path 15-16-...-24
# hanging off the second clique. LPA must (a) collapse each clique to
# one label, (b) NOT merge the two cliques across the single bridge
# (1 cross-vote never beats 7 in-clique votes), and (c) propagate one
# hop down the path per round — so the 4-round labels distinguish a
# correct implementation from both a connected-components collapse
# (which would merge everything — the q32 contrast) and a
# neighbor-min rule (which ignores vote counts).
#
# Scale design: each round is one shuffle of |E| label-votes into a
# (vertex, label) count + a per-vertex argmax — the struct-max
# pattern, map-side combinable, no window over data. Labels for the
# next round are a schema-width DataFrame; at corpus scale the unroll
# becomes the q32/q76 iterate-checkpoint loop (localCheckpoint per
# round to cut lineage). Here 4 rounds over <= 25 nodes / ~70 edges.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 4
_LPA_CLIQUE = 8


def _lpa_oracle() -> str:
    its = []
    prev = "lab0"
    for i in range(1, _LPA_ROUNDS + 1):
        its.append(
            f"""lab{i} AS MATERIALIZED (
      SELECT id, lab FROM (
        SELECT s.u AS id, l.lab,
          ROW_NUMBER() OVER (PARTITION BY s.u
            ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
        FROM sym s JOIN {prev} l ON l.id = s.v
        GROUP BY s.u, l.lab)
      WHERE rn = 1)"""
        )
        prev = f"lab{i}"
    return f"""
    WITH nodes AS (SELECT n_nationkey AS id FROM nation),
    edges AS (
      SELECT a.id AS u, b.id AS v FROM nodes a JOIN nodes b ON a.id < b.id
      WHERE (a.id < {_LPA_CLIQUE} AND b.id < {_LPA_CLIQUE})
         OR (a.id >= {_LPA_CLIQUE} AND a.id < {2 * _LPA_CLIQUE}
             AND b.id >= {_LPA_CLIQUE} AND b.id < {2 * _LPA_CLIQUE})
         OR (a.id = {_LPA_CLIQUE - 1} AND b.id = {_LPA_CLIQUE})
         OR (a.id >= {2 * _LPA_CLIQUE - 1} AND b.id = a.id + 1)),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    lab0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes),
    {','.join(its)}
    SELECT n.n_name, l.lab AS community,
      CAST(COUNT(*) OVER (PARTITION BY l.lab) AS BIGINT) AS comm_size
    FROM {prev} l JOIN nation n ON n.n_nationkey = l.id
    ORDER BY n.n_name
    """


@register("q158_label_propagation", oracle=_lpa_oracle())
def q158_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"), "n_name"
    )
    a = n.select(F.col("id").alias("u"))
    b = n.select(F.col("id").alias("v"))
    c1, c2 = _LPA_CLIQUE, 2 * _LPA_CLIQUE
    edges = (
        a.join(F.broadcast(b), F.col("u") < F.col("v"))
        .where(
            ((F.col("u") < c1) & (F.col("v") < c1))
            | (
                (F.col("u") >= c1) & (F.col("u") < c2)
                & (F.col("v") >= c1) & (F.col("v") < c2)
            )
            | ((F.col("u") == c1 - 1) & (F.col("v") == c1))
            | ((F.col("u") >= c2 - 1) & (F.col("v") == F.col("u") + 1))
        )
        .select("u", "v")
    )
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    labels = n.select("id", F.col("id").alias("lab"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(labels, sym.v == labels.id)
            .groupBy(sym.u, "lab")
            .agg(F.count("*").alias("c"))
        )
        # per-vertex argmax by (count DESC, label ASC): struct-max on
        # (c, -lab) would break on lab=0; a bounded partitioned window
        # keeps the total tie-break explicit.
        w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("lab"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("u").alias("id"), "lab")
            .localCheckpoint(eager=False)  # cut the per-round lineage
        )
    comm_w = Window.partitionBy("lab")
    return (
        labels.join(F.broadcast(n), "id")
        .select(
            "n_name",
            F.col("lab").alias("community"),
            F.count("*").over(comm_w).cast("long").alias("comm_size"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q218 — distributed maximal matching by handshake rounds: each round,
# every live supplier and every live part nominates its MINIMUM
# incident edge (priority = the packed edge key s*1000000+p); an edge
# matched iff BOTH endpoints nominated it; matched endpoints leave
# the graph. This is the classic symmetry-breaking primitive of
# distributed graph algorithms (assignment seeding, b-matching
# capacity planning) — embarrassingly parallel per round: two
# map-side-combinable MIN aggregations and one self-join per round,
# state bounded by |live edges|, lineage cut per round.
#
# The entry runs a FIXED 4 rounds (not to-convergence) so the oracle
# can replay the identical rounds as chained CTEs (the q137/q158
# unrolled-rounds discipline); `is_maximal_after` reports whether the
# greedy handshake already exhausted the graph — on this bipartite
# supplier×part graph the 100-node supplier side saturates within
# the budget, and the flag PROVES it instead of assuming it.
#
# Scale: each round shuffles live edges twice (once per endpoint MIN)
# — at 100 TB the live-edge set shrinks geometrically per round,
# which is the whole reason the handshake primitive scales.
# ---------------------------------------------------------------------------
_HSM_ROUNDS = 4


def _hsm_oracle() -> str:
    parts = [
        "WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p"
        " FROM lineitem)"
    ]
    for k in range(1, _HSM_ROUNDS + 1):
        prev = f"e{k - 1}"
        parts.append(
            f"""
    s{k} AS MATERIALIZED (SELECT s, MIN(s * 1000000 + p) AS m FROM {prev} GROUP BY s),
    p{k} AS MATERIALIZED (SELECT p, MIN(s * 1000000 + p) AS m FROM {prev} GROUP BY p),
    m{k} AS MATERIALIZED (
      SELECT e.s, e.p FROM {prev} e
      JOIN s{k} ON s{k}.s = e.s AND s{k}.m = e.s * 1000000 + e.p
      JOIN p{k} ON p{k}.p = e.p AND p{k}.m = e.s * 1000000 + e.p),
    e{k} AS MATERIALIZED (
      SELECT s, p FROM {prev}
      WHERE s NOT IN (SELECT s FROM m{k})
        AND p NOT IN (SELECT p FROM m{k}))"""
        )
    rounds_sql = []
    for k in range(1, _HSM_ROUNDS + 1):
        cum = " UNION ALL ".join(f"SELECT * FROM m{j}" for j in range(1, k + 1))
        rounds_sql.append(
            f"""
    SELECT CAST({k} AS BIGINT) AS round,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM m{k}) AS n_matched,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM ({cum})) AS cum_matched,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM e{k}) AS n_live_edges_after,
      (SELECT COUNT(*) FROM e{k}) = 0 AS is_maximal_after,
      (SELECT CAST(COALESCE(SUM(s * p), 0) AS BIGINT) FROM ({cum}))
        AS match_checksum"""
        )
    return (
        ",\n".join(parts)
        + "\n"
        + " UNION ALL ".join(rounds_sql)
        + "\n    ORDER BY round"
    )


@register("q218_handshake_matching", oracle=_hsm_oracle())
def q218_handshake_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    live = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ekey = F.col("s") * 1000000 + F.col("p")
    rows = []
    cum_matched = 0
    cum_checksum = 0
    # (A window-flag single-frame form — per-endpoint window mins for
    # the handshake, window maxes for survivor filtering, one census
    # aggregate — was A/B'd here and is SLOWER: four window exchanges
    # of the full live edge set per round cost more than these groupBy
    # nominations, whose outputs are endpoint-sized and broadcast back.
    # 5.7 -> 6.5 s; kept the nomination/anti-join shape.)
    # each round's statistics are observed metrics of its two
    # checkpoints, so a round is exactly those two actions
    for k in range(1, _HSM_ROUNDS + 1):
        smin = live.groupBy("s").agg(F.min(ekey).alias("ms"))
        pmin = live.groupBy("p").agg(F.min(ekey).alias("mp"))
        m_obs, l_obs = Observation(), Observation()
        matched = (
            live.join(smin, "s")
            .join(pmin, "p")
            .where((ekey == F.col("ms")) & (ekey == F.col("mp")))
            .select("s", "p")
            .observe(
                m_obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.col("s") * F.col("p")), F.lit(0)).alias("ck"),
            )
            .localCheckpoint(eager=True)
        )
        live = (
            live.join(matched.select("s"), "s", "left_anti")
            .join(matched.select("p"), "p", "left_anti")
            .observe(l_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        stats, n_live = m_obs.get, l_obs.get["n"]
        cum_matched += stats["n"]
        cum_checksum += stats["ck"]
        rows.append(
            (k, stats["n"], cum_matched, n_live, n_live == 0, cum_checksum)
        )
    return spark.createDataFrame(
        rows,
        "round BIGINT, n_matched BIGINT, cum_matched BIGINT, "
        "n_live_edges_after BIGINT, is_maximal_after BOOLEAN, "
        "match_checksum BIGINT",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# Q229 — minimum spanning tree (Borůvka): the classic distributed MST
# algorithm — every round, each component selects its cheapest
# outgoing edge under a STRICT total order, all selected edges join
# the forest at once, components merge; O(log V) rounds. The strict
# order (w, u, v) makes all edge weights distinct, so the MST is
# UNIQUE and any correct algorithm must produce the identical edge
# set — which is exactly how the oracle verifies it: DuckDB runs
# PRIM (a sequential cut-growing recursive CTE carrying the visited
# set as a LIST, one min-crossing edge per step under the same
# order), and the two algorithms' outputs hash-match edge for edge.
#
# Graph: nations as vertices; undirected edge (u,v) = cheapest
# lineitem (in cents) shipped between a supplier nation and a
# customer nation, canonicalized u < v with MIN over both directions.
#
# Scale design: the distributed phase is the whole cost — a fact-scale
# 3-join reduced by groupBy MIN to a schema-bounded graph (<= 300
# edges), the q101/q137 pattern; Borůvka itself runs on the driver in
# O(E log V) on that bounded set. For corpus-scale graphs the same
# per-round primitive (min-edge per component = groupBy(component)
# .min(edge struct), then CC-merge) is the q32 iterate-checkpoint
# shape — Borůvka is the MST algorithm BECAUSE its rounds are
# shuffle-parallel, unlike Prim's sequential cut.
# ---------------------------------------------------------------------------
def _mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.least("s_nationkey", "c_nationkey").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").alias("v"),
        )
        .agg(F.min("cents").alias("w"))
    )


@register(
    "q229_mst_boruvka",
    oracle="""
    WITH RECURSIVE edges AS MATERIALIZED (
      SELECT LEAST(s.s_nationkey, c.c_nationkey) AS u,
             GREATEST(s.s_nationkey, c.c_nationkey) AS v,
             MIN(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2),
    steps AS (
      SELECT 0 AS it, [CAST(0 AS INTEGER)] AS visited,
             CAST(NULL AS INTEGER) AS eu, CAST(NULL AS INTEGER) AS ev,
             CAST(NULL AS BIGINT) AS ew
      UNION ALL
      SELECT * FROM (
        SELECT s.it + 1,
          list_append(s.visited,
            CASE WHEN list_contains(s.visited, e.u) THEN e.v ELSE e.u END),
          CAST(e.u AS INTEGER), CAST(e.v AS INTEGER), e.w
        FROM steps s JOIN edges e
          ON list_contains(s.visited, e.u) <> list_contains(s.visited, e.v)
        WHERE s.it < 24
        ORDER BY e.w, e.u, e.v LIMIT 1) t)
    SELECT CAST(st.eu AS INT) AS u, CAST(st.ev AS INT) AS v,
      st.ew AS w_cents, nu.n_name AS u_name, nv.n_name AS v_name
    FROM steps st
    JOIN nation nu ON nu.n_nationkey = st.eu
    JOIN nation nv ON nv.n_nationkey = st.ev
    WHERE st.eu IS NOT NULL
    ORDER BY w_cents, u, v
    """,
)
def q229_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        (int(r["u"]), int(r["v"]), int(r["w"]))
        for r in _mst_edges(spark, sf_dir).collect()
    ]
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    comp = {x: x for x in nodes}  # union-find with path compression

    def find(x: int) -> int:
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    chosen: list[tuple[int, int, int]] = []
    # Boruvka: O(log V) rounds, each selecting every component's
    # cheapest outgoing edge under the strict (w, u, v) order
    for _round in range(16):
        best: dict[int, tuple[int, int, int]] = {}
        for u, v, w in edges:
            cu, cv = find(u), find(v)
            if cu == cv:
                continue
            key = (w, u, v)
            for side in (cu, cv):
                if side not in best or key < (best[side][2], best[side][0], best[side][1]):
                    best[side] = (u, v, w)
        if not best:
            break
        for u, v, w in set(best.values()):
            cu, cv = find(u), find(v)
            if cu != cv:
                comp[cu] = cv
                chosen.append((u, v, w))
    if len(chosen) != len(nodes) - 1:
        raise RuntimeError(
            f"mst: forest has {len(chosen)} edges for {len(nodes)} nodes "
            "(graph disconnected?)"
        )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mst = spark.createDataFrame(chosen, "u INT, v INT, w_cents BIGINT")
    nu = n.select(F.col("n_nationkey").alias("u"), F.col("n_name").alias("u_name"))
    nv = n.select(F.col("n_nationkey").alias("v"), F.col("n_name").alias("v_name"))
    return (
        mst.join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .select("u", "v", "w_cents", "u_name", "v_name")
        .orderBy("w_cents", "u", "v")
    )


# ---------------------------------------------------------------------------
# Q233 — DBSCAN (grid-accelerated): density-based clustering — a point
# with >= minPts-1 neighbors within eps is a CORE; clusters are the
# connected components of the core-core eps-graph; a non-core point
# adjacent to a core is a BORDER of that core's cluster (min label on
# ties); everything else is NOISE. The classic density clusterer for
# the shapes k-means gets wrong, here over the q131 synthetic geometry
# (portable-md5 coordinates — the multiplicative-lattice lesson).
#
# DENSITY NORMALIZATION: coordinates live in [0, S)² with
# S = isqrt(n_points)·260, so mean eps-degree is SF-INVARIANT (~0.8 at
# eps=130) — the subcritical regime where clusters exist at every SF
# but no giant component forms. Both engines derive S from the same
# count (floor∘sqrt == isqrt exactly for n < 2^52).
#
# Scale design: neighbor pairs come from the q131 3x3 grid-cell
# equi-join (pairs ∝ local density, never n²); degrees, core filter,
# and border assignment are keyed aggregations; the core-graph CC is
# the distributed min-label loop (connected_components — the q32
# machinery, checkpointed per round). The oracle brute-forces pairs
# and floods labels through DuckDB's deduplicating recursive UNION —
# diameter-proof, unlike a fixed unrolled round budget.
# ---------------------------------------------------------------------------
_DBSCAN_EPS = 130
_DBSCAN_MINPTS = 3  # core ⇔ >= minPts-1 = 2 eps-neighbors


@register(
    "q233_dbscan_grid",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT CAST(floor(sqrt(COUNT(*))) * 260 AS BIGINT) AS S FROM customer),
    pts AS (
      SELECT c_custkey AS k,
        (('0x' || substr(md5(c_custkey || 'x'), 1, 15))::BIGINT)
          % (SELECT S FROM s) AS x,
        (('0x' || substr(md5(c_custkey || 'y'), 1, 15))::BIGINT)
          % (SELECT S FROM s) AS y
      FROM customer),
    nb AS (
      SELECT a.k AS ka, b.k AS kb FROM pts a JOIN pts b
      ON a.k <> b.k
        AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
            <= {_DBSCAN_EPS * _DBSCAN_EPS}),
    core AS (
      SELECT ka AS k FROM nb GROUP BY ka
      HAVING COUNT(*) >= {_DBSCAN_MINPTS - 1}),
    ce AS (
      SELECT ka, kb FROM nb
      WHERE ka IN (SELECT k FROM core) AND kb IN (SELECT k FROM core)),
    reach(id, lbl) AS (
      SELECT k, k FROM core
      UNION
      SELECT e.kb, r.lbl FROM reach r JOIN ce e ON e.ka = r.id
      WHERE r.lbl < e.kb),
    lab AS (SELECT id AS k, MIN(lbl) AS comp FROM reach GROUP BY id),
    border AS (
      SELECT nb.ka AS k, MIN(lab.comp) AS comp
      FROM nb JOIN lab ON lab.k = nb.kb
      WHERE nb.ka NOT IN (SELECT k FROM core)
      GROUP BY nb.ka),
    clusters AS (
      SELECT comp,
        CAST(SUM(CASE WHEN src = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
        CAST(SUM(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_border
      FROM (SELECT comp, 'c' AS src FROM lab
            UNION ALL SELECT comp, 'b' FROM border) u
      GROUP BY comp),
    census AS (
      SELECT
        CAST((SELECT COUNT(*) FROM core) AS BIGINT) AS n_core,
        CAST((SELECT COUNT(*) FROM border) AS BIGINT) AS n_border,
        CAST((SELECT COUNT(*) FROM customer)
             - (SELECT COUNT(*) FROM core)
             - (SELECT COUNT(*) FROM border) AS BIGINT) AS n_noise,
        CAST((SELECT COUNT(DISTINCT comp) FROM lab) AS BIGINT) AS n_clusters),
    unioned AS (
      SELECT 'census' AS arm, CAST(NULL AS BIGINT) AS cluster_label,
        n_core, n_border, n_noise, n_clusters
      FROM census
      UNION ALL
      SELECT 'cluster', comp, n_core, n_border, NULL, NULL
      FROM clusters)
    SELECT * FROM unioned
    ORDER BY arm, (n_core + COALESCE(n_border, 0)) DESC, cluster_label
    LIMIT 11
    """,
)
def q233_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.pipeline.common import portable_hash

    c = table(spark, sf_dir, "customer").select("c_custkey")
    n_points = c.count()  # 1-row action: sizes the coordinate space
    import math

    S = math.isqrt(n_points) * 260
    key_s = F.col("c_custkey").cast("string")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        (portable_hash(F.concat(key_s, F.lit("x"))) % S).alias("x"),
        (portable_hash(F.concat(key_s, F.lit("y"))) % S).alias("y"),
    )
    cell = _DBSCAN_EPS
    right = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.concat_ws(
            ":",
            F.floor(F.col("x") / cell).cast("long"),
            F.floor(F.col("y") / cell).cast("long"),
        ).alias("cell"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("k").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(offsets).alias("o"),
    ).select(
        "ka",
        "xa",
        "ya",
        F.concat_ws(
            ":",
            (F.floor(F.col("xa") / cell) + F.col("o.dx")).cast("long"),
            (F.floor(F.col("ya") / cell) + F.col("o.dy")).cast("long"),
        ).alias("cell"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    nb = (
        left.join(right, "cell")
        .where((F.col("ka") != F.col("kb")) & (d2 <= cell * cell))
        .select("ka", "kb")
        .localCheckpoint(eager=True)  # reused by degree, CC, and border
    )
    core = (
        nb.groupBy("ka")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") >= _DBSCAN_MINPTS - 1)
        .select(F.col("ka").alias("k"))
    )
    ce = (
        nb.join(core.select(F.col("k").alias("ka")), "ka")
        .join(core.select(F.col("k").alias("kb")), "kb")
        .select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    )
    lab = connected_components(
        core.select(F.col("k").alias("id")), ce
    ).select(F.col("id").alias("k"), F.col("component").alias("comp"))
    border = (
        nb.join(lab.select(F.col("k").alias("kb"), "comp"), "kb")
        .join(core.select(F.col("k").alias("ka")), "ka", "left_anti")
        .groupBy("ka")
        .agg(F.min("comp").alias("comp"))
    )
    # clusters is pinned once and feeds BOTH the census totals and the
    # output arms; the totals are one aggregate over it (sum of
    # per-comp core/border members = total members; its row count =
    # distinct components) instead of the three separate count()
    # actions that each re-ran the lab/border subtrees (guide §1.2).
    clusters = (
        lab.select("comp", F.lit("c").alias("src"))
        .unionByName(border.select("comp", F.lit("b").alias("src")))
        .groupBy("comp")
        .agg(
            F.sum((F.col("src") == "c").cast("long")).alias("n_core"),
            F.sum((F.col("src") == "b").cast("long")).alias("n_border"),
        )
        .localCheckpoint(eager=True)
    )
    totals = clusters.agg(
        F.sum("n_core"), F.sum("n_border"), F.count("*")
    ).collect()[0]
    n_core_t = int(totals[0] or 0)
    n_border_t = int(totals[1] or 0)
    n_clusters = int(totals[2])
    census = spark.createDataFrame(
        [
            (
                "census",
                None,
                n_core_t,
                n_border_t,
                n_points - n_core_t - n_border_t,
                n_clusters,
            )
        ],
        "arm STRING, cluster_label BIGINT, n_core BIGINT, n_border BIGINT, "
        "n_noise BIGINT, n_clusters BIGINT",
    )
    top = (
        clusters.select(
            F.lit("cluster").alias("arm"),
            F.col("comp").alias("cluster_label"),
            "n_core",
            "n_border",
            F.lit(None).cast("long").alias("n_noise"),
            F.lit(None).cast("long").alias("n_clusters"),
        )
        .orderBy(
            F.desc(F.col("n_core") + F.coalesce(F.col("n_border"), F.lit(0))),
            "cluster_label",
        )
        .limit(10)
    )
    return census.unionByName(top).orderBy(
        "arm",
        F.desc(F.col("n_core") + F.coalesce(F.col("n_border"), F.lit(0))),
        "cluster_label",
    )
