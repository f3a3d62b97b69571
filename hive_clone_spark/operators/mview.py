"""Materialized views with automatic query rewrite.

The warehouse feature that turns precomputation into transparent
speed: a small partial-aggregate table is REGISTERED (not just
written), and when a query's shape is derivable from it — grouping
columns a subset of the MV's, aggregates expressible over the MV's
partial states — the planner rewrites the query to scan the MV
instead of the fact table. Users keep writing queries against the
fact table; the rewrite is the optimizer's job. This is the
summary-table/query-rewrite machinery of classic warehouses
(Oracle MVs, BigQuery BI Engine, Materialize) in miniature, built on
the aggregate-rollup algebra that makes it sound:

  * SUM(x)   over any coarser grouping = SUM(mv.sum_x)
  * COUNT(*)                           = SUM(mv.cnt)
  * AVG(x)                             = SUM(mv.sum_x) / SUM(mv.cnt)
  (MIN/MAX roll up the same way; they're omitted here for brevity.)

The match test is purely structural — requested group cols must be a
subset of the MV's, every requested aggregate must be derivable — so
the rewriter either produces an EXACTLY equivalent plan or refuses
(tests pin the refusal path: a grouping column outside the MV falls
back to the fact scan).

Scale design (100 TB): the MV is the classic 1000x reduction — the
fact table's |distinct group tuples| rows instead of its row count —
and maintaining it is one map-side-combinable aggregate (or
incrementally, q103/q135's change-feed application). The rewrite
decision costs O(schema), nothing scans data to plan. The evidence
columns carry the decision arithmetic (mv_rows vs fact_rows) under
the value-hash oracle, and tests/test_mview.py asserts the rewritten
plan physically reads the MV files and never touches
lineitem.parquet.

Reference parity: no warehouse surface exists in the reference
(1.4k-line game engine, SURVEY.md §0); driver-contract north star.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import scratch_dir, table
from hive_clone_spark.registry import register


@dataclass(frozen=True)
class MatView:
    """A registered materialized view: partial-aggregate columns over
    a grouping of a source table."""

    name: str
    source: str  # catalog table name
    group_cols: tuple[str, ...]  # post-projection grouping column names
    # projection THUNKS (col_name -> () -> Column, built lazily so the
    # module imports without an active SparkContext) for group cols —
    # lets the MV group on derived cols like month(l_shipdate)
    projections: dict = field(hash=False, compare=False, default=None)
    # partial states: out_col -> ("sum", source_col) | ("count",)
    aggs: dict = field(hash=False, compare=False, default=None)


def build_mv(spark: SparkSession, sf_dir: str, mv: MatView) -> str:
    """Materialize the MV: one map-side-combinable partial aggregate,
    written as parquet. Returns the written path."""
    src = table(spark, sf_dir, mv.source)
    proj = [thunk().alias(c) for c, thunk in (mv.projections or {}).items()]
    base = src.select("*", *proj) if proj else src
    exprs = []
    for out, spec in mv.aggs.items():
        if spec[0] == "sum":
            exprs.append(
                F.sum(F.col(spec[1]).cast("decimal(18,2)")).alias(out)
            )
        elif spec[0] == "count":
            exprs.append(F.count(F.lit(1)).alias(out))
        else:
            raise ValueError(f"mv {mv.name}: unsupported partial {spec!r}")
    dest = scratch_dir(mv.name, "mview")
    base.groupBy(*mv.group_cols).agg(*exprs).write.mode("overwrite").parquet(
        dest
    )
    return dest


def rewrite(
    spark: SparkSession,
    mv: MatView,
    mv_path: str,
    group_cols: list[str],
    aggs: dict,
):
    """Try to answer (group_cols, aggs) from the MV.

    aggs: out_col -> ("sum", col) | ("count",) | ("avg", col).
    Returns the rewritten DataFrame, or None when the request is not
    derivable (grouping outside the MV, or an aggregate without a
    matching partial state)."""
    if not set(group_cols) <= set(mv.group_cols):
        return None

    def partial_for(kind: str, col: str | None) -> str | None:
        for out, spec in mv.aggs.items():
            if spec[0] == kind and (kind == "count" or spec[1] == col):
                return out
        return None

    plan = {}
    for out, spec in aggs.items():
        if spec[0] in ("sum", "count"):
            p = partial_for(spec[0], spec[1] if spec[0] == "sum" else None)
            if p is None:
                return None
            plan[out] = ("roll", p)
        elif spec[0] == "avg":
            ps = partial_for("sum", spec[1])
            pc = partial_for("count", None)
            if ps is None or pc is None:
                return None
            plan[out] = ("ratio", ps, pc)
        else:
            return None
    mvdf = spark.read.parquet(mv_path)
    exprs = []
    for out, p in plan.items():
        if p[0] == "roll":
            exprs.append(F.sum(p[1]).alias(out))
        else:
            exprs.append(
                (
                    F.sum(F.col(p[1])).cast("decimal(28,8)")
                    / F.sum(p[2]).cast("decimal(28,8)")
                ).alias(out)
            )
    return mvdf.groupBy(*group_cols).agg(*exprs)


# ---------------------------------------------------------------------------
# Q161 — the end-to-end rewrite: register an MV of lineitem partial
# aggregates by (returnflag, linestatus, ship month); a user query
# grouping by the COARSER (returnflag, month) with SUM / COUNT / AVG
# is structurally matched and silently answered from the MV — the
# returned plan never touches lineitem.parquet (pinned in
# tests/test_mview.py), and the evidence columns carry the decision's
# arithmetic (mv_rows vs fact_rows) under the oracle.
# ---------------------------------------------------------------------------
_MV_Q161 = MatView(
    name="li_by_flag_status_month",
    source="lineitem",
    group_cols=("l_returnflag", "l_linestatus", "ship_month"),
    projections={
        "ship_month": lambda: F.date_format(F.col("l_shipdate"), "yyyy-MM")
    },
    aggs={
        "sum_qty": ("sum", "l_quantity"),
        "sum_price": ("sum", "l_extendedprice"),
        "cnt": ("count",),
    },
)


@register(
    "q161_matview_rewrite",
    oracle="""
    WITH mv AS (
      SELECT l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m')
          AS ship_month,
        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2, 3),
    sizes AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mv) AS mv_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS fact_rows),
    q AS (
      SELECT l_returnflag, ship_month,
        CAST(SUM(sum_qty) AS DOUBLE) AS sum_qty,
        CAST(SUM(cnt) AS BIGINT) AS n_items,
        ROUND(CAST(CAST(SUM(sum_price) AS DECIMAL(28,8))
              / CAST(SUM(cnt) AS DECIMAL(28,8)) AS DOUBLE), 6) AS avg_price
      FROM mv GROUP BY 1, 2)
    SELECT q.l_returnflag, q.ship_month, q.sum_qty, q.n_items,
      q.avg_price, TRUE AS used_mv, s.mv_rows, s.fact_rows
    FROM q CROSS JOIN sizes s
    ORDER BY q.l_returnflag, q.ship_month
    """,
)
def q161_matview_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv_path = build_mv(spark, sf_dir, _MV_Q161)
    rewritten = rewrite(
        spark,
        _MV_Q161,
        mv_path,
        ["l_returnflag", "ship_month"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_items": ("count",),
            "avg_price": ("avg", "l_extendedprice"),
        },
    )
    if rewritten is None:  # structural match is the entry's premise
        raise RuntimeError("q161: rewriter refused a derivable query")
    mv_rows = spark.read.parquet(mv_path).count()
    fact_rows = table(spark, sf_dir, "lineitem").count()
    return (
        rewritten.select(
            "l_returnflag",
            "ship_month",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("n_items").cast("long").alias("n_items"),
            F.round(F.col("avg_price").cast("double"), 6).alias("avg_price"),
            F.lit(True).alias("used_mv"),
            F.lit(mv_rows).cast("long").alias("mv_rows"),
            F.lit(fact_rows).cast("long").alias("fact_rows"),
        )
        .orderBy("l_returnflag", "ship_month")
    )
