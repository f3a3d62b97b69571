"""The remaining classic TPC-H query shapes (q108-q119), adapted to
this testdata's schema (no partsupp / ps_supplycost, no l_shipmode /
l_commitdate, no c_phone — those columns' queries are either adapted,
as noted per entry, or already covered elsewhere: Q1=q01, Q2=q100,
Q4=q04, Q11=q85, Q13=q99, Q15=q86, Q20=q82, Q21=q84, Q22=q87).

With this module a user of a TPC-H-style warehouse can run every
query family of the benchmark on this engine, each under the DuckDB
value-hash oracle. All money math follows the repo's decimal
discipline (q01's pattern: DECIMAL(18,2) price terms × (1 ±
DECIMAL(4,2) rate), summed exactly, cast to double once at the end);
every top-k carries a total tie-breaking order.

Scale notes (100 TB): these are the canonical star-join pipelines —
dimensions (region/nation/supplier/part/customer) broadcast, the
lineitem⋈orders spine shuffles once on the join key, aggregates are
map-side partial. Catalyst's join reordering + AQE handle the rest;
nothing here hand-schedules. Q19's value is specifically that the
OR-of-ANDs predicate still pushes the part filters into the scan.

Reference parity: no relational engine exists in the reference
(SURVEY.md §0); this is driver-contract warehouse surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.operators.relational import _dec
from hive_clone_spark.registry import register


def _rate(col: str) -> F.Column:
    return F.col(col).cast("decimal(4,2)")


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


def _rev() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1) - _rate("l_discount"))


# ---------------------------------------------------------------------------
# Q108 / TPC-H Q3 — shipping priority: top-10 unshipped BUILDING
# orders by revenue. customer/orders/lineitem spine, two date-side
# filters, group on the order, TakeOrdered(10).
# ---------------------------------------------------------------------------
@register(
    "q108_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
      CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
      strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1996-03-15'
      AND l_shipdate > DATE '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q108_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("date")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q109 / TPC-H Q5 — local supplier volume: revenue per ASIA nation
# where the customer and supplier share the nation. The 6-table star
# with the classic colocation equi-condition.
# ---------------------------------------------------------------------------
@register(
    "q109_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q109_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q110 / TPC-H Q6 — forecast revenue change: the pure scan-side
# aggregate (no join at all); its whole point is predicate pushdown.
# ---------------------------------------------------------------------------
@register(
    "q110_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q110_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _rate("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Q111 / TPC-H Q7 — volume shipping between two nations, by direction
# and ship year. Two nation joins with the symmetric pair predicate.
# ---------------------------------------------------------------------------
@register(
    "q111_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS BIGINT) AS l_year,
      CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem ON l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q111_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n.withColumnRenamed("n_name", "supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(
            n.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
                "n_nationkey", "n2_key"
            )
        ),
        F.col("c_nationkey") == F.col("n2_key"),
    ).select("c_custkey", "cust_nation")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    pair = (F.col("supp_nation") == "NATION_3") & (
        F.col("cust_nation") == "NATION_8"
    ) | (F.col("supp_nation") == "NATION_8") & (
        F.col("cust_nation") == "NATION_3"
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q112 / TPC-H Q8 — market share: the fraction of AMERICA's ECONOMY-
# part revenue supplied by NATION_5, per order year. Ratio of two
# conditional aggregates over one joined stream.
# ---------------------------------------------------------------------------
@register(
    "q112_q8_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        {_REV_SQL} AS rev, n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY')
    SELECT o_year,
      ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q112_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n2 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("n2_key"))
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"), "left_semi"
    ).select("c_custkey")
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _rev().alias("rev"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("rev")).otherwise(
                    zero
                )
            ).alias("n5"),
            F.sum("rev").alias("tot"),
        )
        .select(
            "o_year",
            F.round(
                F.col("n5").cast("double") / F.col("tot").cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q113 / TPC-H Q9 — product-type profit by nation and year (adapted:
# no ps_supplycost, so profit is the discounted revenue of red parts).
# ---------------------------------------------------------------------------
@register(
    "q113_q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
      CAST(year(l_shipdate) AS BIGINT) AS o_year,
      CAST(SUM({_REV_SQL}) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def q113_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q114 / TPC-H Q10 — returned-item reporting: top-20 customers by
# revenue lost to returns in a quarter.
# ---------------------------------------------------------------------------
@register(
    "q114_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
      CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-10-01'
      AND o_orderdate < DATE '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q114_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q115 / TPC-H Q14 — promotion effect: percent of a month's revenue
# from PROMO-type parts. The conditional-aggregate ratio.
# ---------------------------------------------------------------------------
@register(
    "q115_q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(100.0
      * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      / CAST(SUM({_REV_SQL}) AS DOUBLE), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
    """,
)
def q115_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev()).otherwise(zero)
            ).alias("promo"),
            F.sum(_rev()).alias("tot"),
        )
        .select(
            F.round(
                F.lit(100.0)
                * F.col("promo").cast("double")
                / F.col("tot").cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q116 / TPC-H Q16 — part/supplier relationship count (adapted: the
# part-supplier pairs come from lineitem, there being no partsupp).
# ---------------------------------------------------------------------------
@register(
    "q116_q16_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q116_q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q117 / TPC-H Q17 — small-quantity-order revenue: lineitems of one
# brand below 20% of their part's average quantity; the correlated
# per-part average as a broadcast join (no per-row subquery).
# ---------------------------------------------------------------------------
@register(
    "q117_q17_small_quantity",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p_brand = 'Brand#12' AND l.l_quantity < pa.qty_thresh
    """,
)
def q117_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(pa), li.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 6
            ).alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# Q118 / TPC-H Q18 — large-volume customers: orders whose total
# quantity exceeds 200 units, top-100 by (totalprice, orderkey).
# ---------------------------------------------------------------------------
@register(
    "q118_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 200)
    SELECT c_name, c_custkey, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      CAST(o_totalprice AS DOUBLE) AS totalprice,
      CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q118_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 200)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(
            F.broadcast(big.withColumnRenamed("l_orderkey", "bk")),
            o.o_orderkey == F.col("bk"),
            "left_semi",
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q119 / TPC-H Q19 — discounted revenue under an OR-of-ANDs predicate
# (three brand/size/quantity bands). The shape exists to prove
# disjunctive predicates still push down and the join stays an equi
# join with the residual OR as a post-filter.
# ---------------------------------------------------------------------------
@register(
    "q119_q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
      CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q119_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = table(spark, sf_dir, "lineitem")
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(band)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )
