"""SQL-text entry point: run ANSI SQL strings directly against the
catalog via `spark.sql`, with every TESTDATA table registered as a
view. This is the migration surface for users arriving from a
SQL-first engine — the same query text a DuckDB/warehouse user types
runs unchanged, Catalyst-planned (predicate pushdown, AQE, broadcast
selection all apply, exactly as with the DataFrame API).

The registered query below is written in the dialect intersection of
Spark SQL and DuckDB, and the SAME string is both the Spark query and
the oracle — the strongest possible passthrough check: one text, two
engines, hash-identical results.

Scale design: `spark.sql` is a front-end only — the plan is the same
Catalyst plan the DataFrame API yields (verified by explain_audit),
so every scale property (pushdown, pruning, AQE join selection)
carries over; there is no interpretation overhead per row.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import register_views, scratch_dir, table
from hive_clone_spark.registry import register


def run_sql(spark: SparkSession, sf_dir: str, sql_text: str) -> DataFrame:
    """Register all tables as views, then evaluate the SQL text."""
    register_views(spark, sf_dir)
    return spark.sql(sql_text)


# One text, two engines: ANSI join + aggregate + HAVING + expression
# arithmetic, restricted to the Spark∩DuckDB dialect.
_Q43_SQL = """
SELECT
  r_name AS region_name,
  n_name AS nation_name,
  COUNT(*) AS n_orders,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
  CAST(MIN(YEAR(o_orderdate)) AS INT) AS first_year,
  CAST(MAX(YEAR(o_orderdate)) AS INT) AS last_year
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus <> 'F'
GROUP BY r_name, n_name
HAVING COUNT(*) > 10
ORDER BY region_name, nation_name
"""


@register("q43_sql_passthrough", oracle=_Q43_SQL)
def q43_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _Q43_SQL)


# ---------------------------------------------------------------------------
# Catalog / DDL surface (round-7 verdict task 5): the first thing a
# warehouse user migrating from HiveQL touches — CREATE DATABASE,
# CREATE TABLE AS SELECT, INSERT INTO, SHOW TABLES, DESCRIBE, and a
# catalog read-back — exercised end to end in a SESSION catalog.
#
# Tables are EXTERNAL (explicit LOCATION under the system tempdir)
# so the entries run under any caller's vanilla session regardless of
# where its spark.sql.warehouse.dir points (a static conf fixed at
# session start — the one catalog knob an entry cannot set). Every
# entry is idempotent: DROP TABLE IF EXISTS + location wipe first, so
# the driver can re-run it in a long-lived session.
#
# Scale design: DDL/SHOW/DESCRIBE are metadata-only driver round trips
# (no job). CTAS and INSERT INTO write through the ordinary parquet
# sink — at 100 TB they take partitioned writes, and INSERT INTO is an
# append of new files with no rewrite of existing data. The read-back
# is a plain catalog-resolved parquet scan with full pushdown.
# ---------------------------------------------------------------------------
_DDL_DB = "hcs_ddl"


def _ddl_location(name: str) -> str:
    """A catalog table's LOCATION: this process's cleared scratch dir
    (catalogs are per-session; only the filesystem is shared)."""
    return scratch_dir(name, "hcs_ddl")


def _ensure_db(spark: SparkSession) -> None:
    """The DDL database, located in this process's scratch dir. The
    location is built only when the database is missing: scratch_dir
    clears the dir on every call."""
    if not spark.catalog.databaseExists(_DDL_DB):
        spark.sql(f"CREATE DATABASE {_DDL_DB} LOCATION '{_ddl_location('_db')}'")


def _create_orders_by_priority(spark: SparkSession) -> str:
    """DDL lifecycle: CTAS (5 priority rows) + INSERT INTO (a Z-TOTAL
    rollup row appended as new files, not a rewrite)."""
    _ensure_db(spark)
    fq = f"{_DDL_DB}.orders_by_priority"
    loc = _ddl_location("orders_by_priority")
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    spark.sql(
        f"""
        CREATE TABLE {fq}
        USING parquet LOCATION '{loc}'
        AS SELECT o_orderpriority AS priority,
                  COUNT(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS total_price
           FROM orders GROUP BY o_orderpriority
        """
    )
    spark.sql(
        f"""
        INSERT INTO {fq}
        SELECT 'Z-TOTAL', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders
        """
    )
    return fq


@register(
    "q123_catalog_ddl_roundtrip",
    # The oracle recomputes the table the DDL should have produced and
    # pins the catalog metadata the entry reports from SHOW TABLES /
    # DESCRIBE: a CTAS that drops rows, an INSERT that rewrites
    # instead of appending, or a catalog that loses the table all
    # shift the result.
    oracle="""
    SELECT priority, n_orders, total_price, n_cols, in_catalog
    FROM (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
      FROM orders GROUP BY o_orderpriority
      UNION ALL
      SELECT 'Z-TOTAL', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders
    ) t, (SELECT 3 AS n_cols, TRUE AS in_catalog) m
    ORDER BY priority
    """,
)
def q123_catalog_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE DATABASE -> CTAS -> INSERT INTO -> SHOW TABLES ->
    DESCRIBE -> spark.table() read-back, all against the session
    catalog; the returned rows fuse the read-back DATA with the
    catalog METADATA so the oracle verifies both."""
    register_views(spark, sf_dir)
    fq = _create_orders_by_priority(spark)
    shown = spark.sql(f"SHOW TABLES IN {_DDL_DB}")
    in_catalog = (
        shown.where(
            (F.col("tableName") == "orders_by_priority")
            & (~F.col("isTemporary"))
        ).count()
        == 1
    )
    n_cols = spark.sql(f"DESCRIBE TABLE {fq}").where(
        ~F.col("col_name").startswith("#")
    ).count()
    return (
        spark.table(fq)
        .select(
            "priority",
            F.col("n_orders").cast("long").alias("n_orders"),
            "total_price",
            F.lit(int(n_cols)).cast("int").alias("n_cols"),
            F.lit(bool(in_catalog)).alias("in_catalog"),
        )
        .orderBy("priority")
    )


@register(
    "q124_catalog_introspection",
    # information_schema-style check: the catalog must report back the
    # exact (name, type, position) schema each DDL path declared —
    # one table made by the DataFrame writer's saveAsTable, one by
    # SQL CTAS + INSERT. Literal expected rows ARE the oracle: the
    # subject under test is the catalog state itself.
    oracle="""
    SELECT * FROM (VALUES
      ('nation_dim', 'n_nationkey', 'int', 1),
      ('nation_dim', 'n_name', 'string', 2),
      ('nation_dim', 'region_name', 'string', 3),
      ('orders_by_priority', 'priority', 'string', 1),
      ('orders_by_priority', 'n_orders', 'bigint', 2),
      ('orders_by_priority', 'total_price', 'double', 3)
    ) AS t(table_name, column_name, data_type, ordinal)
    ORDER BY table_name, ordinal
    """,
)
def q124_catalog_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both writer paths into the catalog (DataFrame saveAsTable and
    SQL CTAS), then the schema read BACK from the catalog — name,
    Spark type string, ordinal — as the query result."""
    register_views(spark, sf_dir)
    _create_orders_by_priority(spark)
    loc = _ddl_location("nation_dim")
    spark.sql(f"DROP TABLE IF EXISTS {_DDL_DB}.nation_dim")
    shutil.rmtree(loc, ignore_errors=True)
    nation = spark.table("nation")
    region = spark.table("region")
    dim = (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )
    (
        dim.write.format("parquet")
        .mode("overwrite")
        .option("path", loc)
        .saveAsTable(f"{_DDL_DB}.nation_dim")
    )
    rows = []
    for tbl in ("nation_dim", "orders_by_priority"):
        for i, col in enumerate(
            spark.catalog.listColumns(f"{_DDL_DB}.{tbl}"), start=1
        ):
            rows.append((tbl, col.name, col.dataType, i))
    return (
        spark.createDataFrame(
            rows, "table_name STRING, column_name STRING, data_type STRING, "
            "ordinal INT"
        )
        .orderBy("table_name", "ordinal")
    )


# ---------------------------------------------------------------------------
# Q142 — persistent VIEWs + ALTER TABLE through the catalog: the other
# half of the HiveQL DDL surface q123/q124 opened. Lifecycle exercised
# end to end, idempotently, in the session catalog:
#
#   CREATE TABLE (external CTAS)           -- 3 columns
#   CREATE OR REPLACE VIEW v_pri           -- aggregate over the table
#   CREATE OR REPLACE VIEW v_top           -- view ON view
#   ALTER TABLE ... ADD COLUMNS (discount) -- metadata-only evolution
#   INSERT INTO (4-column row)             -- lands as NEW files
#   SHOW VIEWS IN db                       -- both views cataloged
#   DESCRIBE TABLE                         -- 4 columns after ALTER
#
# The output fuses the view-resolved DATA (which must include the
# post-ALTER insert — proving views re-resolve against the evolved
# table) with the catalog METADATA (view count, column count), so a
# broken re-resolution, a rewriting INSERT, or a no-op ALTER all fail
# the hash. Views must reference the TABLE, not temp views — Spark
# (correctly) refuses persistent views over session-temporary state,
# which is exactly the production semantics.
#
# Scale design: every DDL here is a metadata-only driver round trip;
# ADD COLUMNS rewrites nothing (old files read the new column as
# NULL); INSERT INTO appends files. Views are free at plan time —
# Catalyst inlines them, so pushdown through a view equals pushdown
# into its text.
# ---------------------------------------------------------------------------
@register(
    "q142_catalog_views",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 0),
    all_rows AS (
      SELECT * FROM base
      UNION ALL SELECT -1, 0.0, 'X-NEW'),
    agg AS (
      SELECT o_orderpriority AS priority,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS total_price
      FROM all_rows GROUP BY o_orderpriority)
    SELECT priority, n_orders, total_price,
      CAST(2 AS BIGINT) AS n_views, CAST(4 AS BIGINT) AS n_cols
    FROM agg ORDER BY priority
    """,
)
def q142_catalog_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    _ensure_db(spark)
    tbl = f"{_DDL_DB}.ord_slim"
    v_pri = f"{_DDL_DB}.v_ord_priority"
    v_top = f"{_DDL_DB}.v_ord_top"
    loc = _ddl_location("ord_slim")
    spark.sql(f"DROP VIEW IF EXISTS {v_top}")
    spark.sql(f"DROP VIEW IF EXISTS {v_pri}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE {tbl} USING parquet LOCATION '{loc}'
        AS SELECT o_orderkey, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 100 = 0
        """
    )
    spark.sql(
        f"""
        CREATE OR REPLACE VIEW {v_pri} AS
        SELECT o_orderpriority AS priority,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS total_price
        FROM {tbl} GROUP BY o_orderpriority
        """
    )
    spark.sql(
        f"CREATE OR REPLACE VIEW {v_top} AS "
        f"SELECT * FROM {v_pri} WHERE n_orders >= 1"
    )
    # metadata-only evolution, then an append that uses the new column
    spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (discount DOUBLE)")
    spark.sql(f"INSERT INTO {tbl} VALUES (-1, 0.0, 'X-NEW', 0.5)")
    n_views = (
        spark.sql(f"SHOW VIEWS IN {_DDL_DB}")
        .where(
            F.col("viewName").isin("v_ord_priority", "v_ord_top")
            & ~F.col("isTemporary")
        )
        .count()
    )
    n_cols = (
        spark.sql(f"DESCRIBE TABLE {tbl}")
        .where(~F.col("col_name").startswith("#"))
        .count()
    )
    return (
        spark.table(v_top)
        .select(
            "priority",
            F.col("n_orders").cast("long").alias("n_orders"),
            "total_price",
            F.lit(int(n_views)).cast("long").alias("n_views"),
            F.lit(int(n_cols)).cast("long").alias("n_cols"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q184: SQL scalar UDFs — the HiveQL "CREATE FUNCTION" surface done
# the Spark-4 way: `CREATE OR REPLACE TEMPORARY FUNCTION ... RETURNS
# ... RETURN <expr>` declares the function IN SQL, so Catalyst
# INLINES the body into the calling plan (constant-foldable,
# pushdown-transparent, whole-stage-codegen — the plan audit's
# no-BatchEvalPython gate proves no Python boundary exists). This is
# the porting path for a warehouse's UDF library: row-at-a-time Hive
# UDFs become declarative expressions, not py4j calls.
#
# Two functions compose (band uses tier's output), and the query uses
# them in SELECT, WHERE and GROUP BY positions — the three call sites
# a migration actually hits. Idempotent under the driver's long-lived
# session (OR REPLACE, session-scoped temporaries).
# ---------------------------------------------------------------------------
@register(
    "q184_sql_scalar_udf",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 200000 THEN 'medium'
                  ELSE 'large' END AS band,
        CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 'expedited' ELSE 'standard' END AS tier,
        o_totalprice
      FROM orders)
    SELECT band, tier,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM t WHERE band <> 'small' OR tier = 'expedited'
    GROUP BY band, tier
    ORDER BY band, tier
    """,
)
def q184_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN x < 50000 THEN 'small' "
        "WHEN x < 200000 THEN 'medium' ELSE 'large' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ship_tier(p STRING) "
        "RETURNS STRING RETURN CASE WHEN p IN ('1-URGENT', '2-HIGH') "
        "THEN 'expedited' ELSE 'standard' END"
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
          ship_tier(o_orderpriority) AS tier,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM orders
        WHERE price_band(o_totalprice) <> 'small'
           OR ship_tier(o_orderpriority) = 'expedited'
        GROUP BY price_band(o_totalprice), ship_tier(o_orderpriority)
        ORDER BY band, tier
        """
    )


# ---------------------------------------------------------------------------
# q197: CACHE TABLE — the warehouse hot-set surface (`CACHE TABLE t AS
# SELECT ...` materializes the result columnar in executor memory;
# later reads are InMemoryTableScan, no parquet re-scan). The entry
# caches a pre-aggregated day-grain rollup — the right GRAIN to cache:
# caching raw facts burns memory on data every query re-aggregates
# anyway, while the day rollup serves the dashboard family below it —
# then answers a month-level query from the cache and reports the
# catalog's isCached verdict as an output column. Explicit UNCACHE
# first keeps the entry idempotent under the driver's long-lived
# session (re-running must re-derive, not silently serve stale cache:
# exactly the staleness contract CACHE TABLE AS has).
#
# tests/test_catalog_ddl.py pins the physical side: the second read's
# plan contains InMemoryTableScan and no parquet scan.
# ---------------------------------------------------------------------------
@register(
    "q197_cache_table",
    oracle="""
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1)
    SELECT strftime(d, '%Y-%m') AS month,
      CAST(SUM(n) AS BIGINT) AS n_orders,
      CAST(SUM(rev) AS DOUBLE) AS revenue,
      TRUE AS served_from_cache
    FROM day GROUP BY strftime(d, '%Y-%m')
    ORDER BY month
    """,
)
def q197_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.sql("UNCACHE TABLE IF EXISTS q197_day_rollup")
    spark.catalog.dropTempView("q197_day_rollup")
    spark.sql(
        """
        CACHE TABLE q197_day_rollup AS
        SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
        """
    )
    cached = bool(spark.catalog.isCached("q197_day_rollup"))
    return spark.sql(
        f"""
        SELECT date_format(d, 'yyyy-MM') AS month,
          CAST(SUM(n) AS BIGINT) AS n_orders,
          CAST(SUM(rev) AS DOUBLE) AS revenue,
          {str(cached).upper()} AS served_from_cache
        FROM q197_day_rollup
        GROUP BY date_format(d, 'yyyy-MM')
        ORDER BY month
        """
    )


# ---------------------------------------------------------------------------
# Q220 — parameterized SQL (Spark 4's spark.sql(query, args)): the
# injection-safe templating surface a SQL-first shop migrates its
# report library onto — named :parameters bound server-side, never
# string-spliced. The entry binds a status filter, a price floor,
# and a limit through real parameter markers; the oracle runs the
# equivalent with DuckDB's own prepared-parameter semantics inlined.
# Binding happens at PARSE time, so the bound plan constant-folds and
# pushes down exactly like a literal (no opaque-parameter plan
# penalty — the reason to prefer this over a UDF wrapper).
# ---------------------------------------------------------------------------
@register(
    "q220_parameterized_sql",
    oracle="""
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS rev_cents
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice >= 1000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q220_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev_cents
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"status": "O", "floor": 1000.0},
    )


# ---------------------------------------------------------------------------
# Q221 — ANSI-safe TRY arithmetic: under ANSI SQL semantics (Spark
# 4's default), divide-by-zero and overflowing casts RAISE; the
# try_* family (try_divide, try_cast, try_add) converts those raises
# to NULLs — the migration contract for pipelines that must never
# die on one bad row while still running in ANSI mode. The entry
# exercises each failure lane on real data (zero-discount divisors,
# out-of-range casts) and counts the NULLs it survived; the oracle
# spells the same semantics with guards (NULLIF / CASE), which is
# exactly what try_* desugars to.
#
# Scale lesson (round 9): try_cast is implemented as catch-the-raise,
# and a raise constructs a JVM exception PER FAILING ROW — measured
# ~5 us/row: the price lane, where ~97% of rows overflow TINYINT,
# cost 3.0 s of the entry's 4.4 s at sf0.1 (at 100 TB that is ~10^11
# exception constructions). A mostly-failing try_cast is therefore an
# anti-pattern: the price lane now uses the equivalent range-guarded
# CAST (identical NULL semantics, zero exceptions), while the qty
# lane keeps try_cast where failure is the rare case — the shape the
# operator is designed for.
# ---------------------------------------------------------------------------
@register(
    "q221_try_arithmetic",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
        CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
        l_quantity
      FROM lineitem),
    x AS (
      SELECT l_returnflag,
        CAST(price_cents AS DOUBLE) / NULLIF(CAST(disc_pct AS DOUBLE), 0.0)
          AS per_disc,
        CASE WHEN l_quantity BETWEEN -128 AND 127
             THEN CAST(l_quantity AS TINYINT) END AS qty_tiny,
        CASE WHEN price_cents <= 127 THEN CAST(price_cents AS TINYINT) END
          AS price_tiny
      FROM t)
    SELECT l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN per_disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_div_by_zero,
      CAST(SUM(CASE WHEN qty_tiny IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_qty_overflow,
      CAST(SUM(CASE WHEN price_tiny IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_price_overflow,
      CAST(SUM(CAST(floor(COALESCE(per_disc, 0.0) * 100 + 0.5) AS BIGINT))
        AS BIGINT) AS sum_per_disc_scaled
    FROM x GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q221_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH t AS (
          SELECT l_returnflag,
            CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
            CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
            l_quantity
          FROM lineitem),
        x AS (
          SELECT l_returnflag,
            try_divide(CAST(price_cents AS DOUBLE),
                       nullif(CAST(disc_pct AS DOUBLE), 0.0D)) AS per_disc,
            try_cast(l_quantity AS TINYINT) AS qty_tiny,
            CASE WHEN price_cents BETWEEN -128 AND 127
                 THEN CAST(price_cents AS TINYINT) END AS price_tiny
          FROM t)
        SELECT l_returnflag,
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN per_disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_div_by_zero,
          CAST(SUM(CASE WHEN qty_tiny IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_qty_overflow,
          CAST(SUM(CASE WHEN price_tiny IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_price_overflow,
          CAST(SUM(CAST(floor(COALESCE(per_disc, 0.0D) * 100 + 0.5)
            AS BIGINT)) AS BIGINT) AS sum_per_disc_scaled
        FROM x GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Q222 — SQL PIVOT syntax: the `FROM ... PIVOT (agg FOR col IN (...))`
# clause — HiveQL/warehouse report queries arrive written this way,
# and q27's DataFrame .pivot() does not cover the TEXT surface. The
# pivot value list is explicit (required by Spark's clause, and the
# right call at scale anyway: implicit value discovery is an extra
# distinct scan). Oracle spells the same table with conditional
# aggregates — the desugaring PIVOT is defined as.
# ---------------------------------------------------------------------------
@register(
    "q222_sql_pivot_syntax",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN l_linestatus = 'F'
          THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END)
        AS BIGINT) AS F_cents,
      CAST(SUM(CASE WHEN l_linestatus = 'O'
          THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END)
        AS BIGINT) AS O_cents
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q222_sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT l_returnflag, l_linestatus,
            CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
          FROM lineitem)
        PIVOT (SUM(cents) FOR l_linestatus IN ('F' AS F_cents, 'O' AS O_cents))
        ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Q223 — NOT IN vs NOT EXISTS under NULLs: the single most common
# silent-wrong-answer trap in SQL migration. `x NOT IN (subquery)`
# is three-valued: ONE null in the subquery's result makes the whole
# predicate UNKNOWN for every row, returning ZERO rows — while NOT
# EXISTS (and the anti-join it plans to) returns the expected
# complement. The entry manufactures a nullable key column (custkey
# 13 mapped to NULL via NULLIF) and runs the three spellings; the
# result ledger shows 0 / n / n — the shape every migration
# checklist warns about, here pinned as data so a future engine or
# optimizer change that alters the semantics fails the hash.
#
# Scale note: this is also why production pipelines spell
# anti-membership as NOT EXISTS/anti-join — besides correctness,
# NOT IN with a nullable subquery blocks the anti-join rewrite and
# can degenerate to a nested-loop NULL-aware join.
# ---------------------------------------------------------------------------
@register(
    "q223_not_in_null_semantics",
    oracle="""
    WITH dim AS (
      SELECT NULLIF(c_custkey, 13) AS k FROM customer
      WHERE c_custkey <= 100),
    probe AS (SELECT o_custkey FROM orders WHERE o_custkey > 90)
    SELECT 'not_in' AS spelling,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
       WHERE o_custkey NOT IN (SELECT k FROM dim)) AS n_rows,
      TRUE AS null_poisoned
    UNION ALL
    SELECT 'not_exists',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probe p
       WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.k = p.o_custkey)),
      FALSE
    UNION ALL
    SELECT 'anti_join',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probe p
       LEFT JOIN dim d ON d.k = p.o_custkey WHERE d.k IS NULL),
      FALSE
    ORDER BY spelling
    """,
)
def q223_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH dim AS (
          SELECT NULLIF(c_custkey, 13) AS k FROM customer
          WHERE c_custkey <= 100),
        probe AS (SELECT o_custkey FROM orders WHERE o_custkey > 90)
        SELECT 'not_in' AS spelling,
          (SELECT COUNT(*) FROM probe
           WHERE o_custkey NOT IN (SELECT k FROM dim)) AS n_rows,
          TRUE AS null_poisoned
        UNION ALL
        SELECT 'not_exists',
          (SELECT COUNT(*) FROM probe p
           WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.k = p.o_custkey)),
          FALSE
        UNION ALL
        SELECT 'anti_join',
          (SELECT COUNT(*) FROM probe p
           LEFT JOIN dim d ON d.k = p.o_custkey WHERE d.k IS NULL),
          FALSE
        ORDER BY spelling
        """
    )


# ---------------------------------------------------------------------------
# Q224 — GROUP BY ALL / ORDER BY ALL: the modern-warehouse shorthand
# (every non-aggregate select expression becomes a grouping key; ORDER
# BY ALL sorts by the full select list left-to-right). Spark 4 and
# DuckDB both implement the inference, so this is a one-text-two-
# engines entry like q43 — the SAME string runs on both, pinning that
# the two engines infer the SAME grouping keys (returnflag, linestatus,
# and the derived ship_year expression — an alias-of-expression, the
# case where inference rules could plausibly diverge).
#
# Scale design: GROUP BY ALL is pure front-end sugar — the resolved
# plan is the identical hash-aggregate with partial (map-side) combine;
# nothing about key inference survives into the physical plan.
# ---------------------------------------------------------------------------
_Q224_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(YEAR(l_shipdate) AS INT) AS ship_year,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS rev_cents
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01'
GROUP BY ALL
ORDER BY ALL
"""


@register("q224_group_by_all", oracle=_Q224_SQL)
def q224_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_Q224_SQL)


# ---------------------------------------------------------------------------
# Q225 — schema-flexible UNION BY NAME: appending two relations whose
# column sets only PARTIALLY overlap — the everyday shape when a fact
# feed gains columns mid-history or two entity tables are stacked into
# one ledger. Positional UNION would silently misalign (or refuse);
# by-name union aligns shared columns and null-fills each side's
# missing ones. Spark spells it df.unionByName(allowMissingColumns=
# True); DuckDB has the SQL form `UNION ALL BY NAME` — same semantics,
# pinned equal here (customer rows carry segment but no nation_key,
# supplier rows the reverse).
#
# Scale design: by-name union is a zero-shuffle plan (two scans + a
# union node with null projections); the alignment happens at analysis
# time, not per row.
# ---------------------------------------------------------------------------
@register(
    "q225_union_by_name",
    oracle="""
    SELECT c_custkey AS ent_key, c_name AS name,
      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS balance_cents,
      c_mktsegment AS segment, 'customer' AS src
    FROM customer WHERE c_custkey <= 50
    UNION ALL BY NAME
    SELECT s_suppkey AS ent_key, s_name AS name,
      CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS balance_cents,
      CAST(s_nationkey AS INT) AS nation_key, 'supplier' AS src
    FROM supplier WHERE s_suppkey <= 50
    ORDER BY src, ent_key
    """,
)
def q225_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table

    cust = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 50)
        .select(
            F.col("c_custkey").alias("ent_key"),
            F.col("c_name").alias("name"),
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("balance_cents"),
            F.col("c_mktsegment").alias("segment"),
            F.lit("customer").alias("src"),
        )
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 50)
        .select(
            F.col("s_suppkey").alias("ent_key"),
            F.col("s_name").alias("name"),
            F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("balance_cents"),
            F.col("s_nationkey").cast("int").alias("nation_key"),
            F.lit("supplier").alias("src"),
        )
    )
    return cust.unionByName(supp, allowMissingColumns=True).orderBy(
        "src", "ent_key"
    )


# ---------------------------------------------------------------------------
# Q226 — SQL scripting (BEGIN ... END): Spark 4's procedural surface —
# DECLARE'd variables, subquery assignment, a WHILE loop — the direct
# replacement for HiveQL-era driver scripts and stored-procedure
# migrations. The script amortizes a loan whose principal is DATA-
# DERIVED (total order value of custkeys <= 3, in cents): each month
# accrues floor(balance * 7 / 1000) interest and repays a fixed
# payment; the loop runs until payoff. Every step is BIGINT (DIV) so
# the trajectory is exact; the oracle replays the identical recurrence
# as a DuckDB recursive CTE and keeps the terminal row. All values
# positive throughout, so truncating `DIV` / `//` agree with floor on
# both engines.
#
# Scale design: scripting executes on the DRIVER, one Catalyst query
# per statement — the right tool for control flow around queries, not
# per-row logic; the per-iteration state here is three scalars.
# ---------------------------------------------------------------------------
@register(
    "q226_sql_scripting",
    oracle="""
    WITH RECURSIVE init AS (
      SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS p
      FROM orders WHERE o_custkey <= 3),
    steps AS (
      SELECT 0 AS months, p AS bal, CAST(0 AS BIGINT) AS interest,
             p // 20 + 1 AS pay
      FROM init
      UNION ALL
      SELECT months + 1,
             bal + bal * 7 // 1000 - pay,
             interest + bal * 7 // 1000,
             pay
      FROM steps WHERE bal > 0 AND months < 60)
    SELECT CAST(months AS INT) AS months,
      CAST(bal AS BIGINT) AS final_balance_cents,
      CAST(interest AS BIGINT) AS total_interest_cents
    FROM steps
    WHERE NOT (bal > 0 AND months < 60)
    """,
)
def q226_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE bal BIGINT DEFAULT 0;
          DECLARE pay BIGINT DEFAULT 0;
          DECLARE interest BIGINT DEFAULT 0;
          DECLARE months INT DEFAULT 0;
          SET bal = (SELECT SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT))
                     FROM orders WHERE o_custkey <= 3);
          SET pay = bal DIV 20 + 1;
          WHILE bal > 0 AND months < 60 DO
            SET interest = interest + bal * 7 DIV 1000;
            SET bal = bal + bal * 7 DIV 1000 - pay;
            SET months = months + 1;
          END WHILE;
          SELECT months,
            bal AS final_balance_cents,
            interest AS total_interest_cents;
        END
        """
    )


# ---------------------------------------------------------------------------
# Q227 — dynamic SQL, injection-safe: the two Spark 4 mechanisms for
# queries whose TABLE/COLUMN names arrive at runtime (metadata-driven
# pipelines, multi-tenant fan-over-tables): IDENTIFIER(:param) binds a
# name through the parameter channel (never string-spliced — the
# binding rejects anything that is not a lone identifier), and
# EXECUTE IMMEDIATE runs a query string with `?` value parameters.
# The entry runs the SAME balance-ledger aggregate over customer and
# supplier, one via each mechanism, and stacks the results; the
# oracle is the static union.
#
# Scale design: both mechanisms bind BEFORE analysis, so the bound
# plan constant-folds and pushes down exactly like literal SQL; the
# IDENTIFIER lane keeps name-parameterized fan-out cacheable (one
# parse shape, n tables).
# ---------------------------------------------------------------------------
@register(
    "q227_dynamic_sql",
    oracle="""
    SELECT 'customer' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS bal_cents
    FROM customer WHERE c_nationkey < 10
    UNION ALL
    SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM supplier WHERE s_nationkey < 10
    ORDER BY src
    """,
)
def q227_dynamic_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    cust = spark.sql(
        """
        SELECT 'customer' AS src, COUNT(*) AS n_rows,
          CAST(SUM(CAST(floor(IDENTIFIER(:balcol) * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS bal_cents
        FROM IDENTIFIER(:tbl) WHERE IDENTIFIER(:natcol) < :cap
        """,
        args={
            "tbl": "customer",
            "balcol": "c_acctbal",
            "natcol": "c_nationkey",
            "cap": 10,
        },
    )
    supp = spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT ''supplier'' AS src, COUNT(*) AS n_rows,
             CAST(SUM(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
           FROM supplier WHERE s_nationkey < ?'
          USING 10
        """
    )
    return cust.unionByName(supp).orderBy("src")


# ---------------------------------------------------------------------------
# Q239 — Python UDTF (Spark 4's user-defined TABLE function, the
# HiveQL-UDTF / LATERAL VIEW migration target): a SQL-callable
# function returning ROWS, registered once and used in a LATERAL
# join. The function expands each order into its installment
# schedule — total_cents split over n months, remainder pennies
# assigned to the earliest installments (banker's-schedule rule), so
# the expansion is exactly penny-conserving and the oracle can
# replay it with generate_series.
#
# Scale design: useArrow=True plans the call as ArrowEvalPythonUDTF —
# Arrow-batched columnar transfer, NOT the row-at-a-time
# BatchEvalPython the plan audit bans; expansion factor is bounded
# (n = 1 + orderkey % 4 <= 4); everything around the UDTF stays in
# whole-stage codegen. A UDTF is still the slow path vs explode() —
# the right use is logic that genuinely needs per-row Python, and the
# census here pins that the fast-path rewrite (the oracle's explode)
# is semantically identical. The %7 subset bounds the per-row Python
# generator cost in bench — the surface, not throughput, is the
# subject (explode() IS the throughput answer).
# ---------------------------------------------------------------------------
@register(
    "q239_python_udtf",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        CAST(1 + o_orderkey % 4 AS INT) AS n
      FROM orders WHERE o_orderkey % 7 = 0),
    inst AS (
      SELECT o.k, o.n, s.seq,
        o.cents // o.n
          + CASE WHEN s.seq < o.cents % o.n THEN 1 ELSE 0 END AS amount
      FROM o JOIN LATERAL (
        SELECT unnest(generate_series(0, o.n - 1)) AS seq) s ON TRUE)
    SELECT CAST(n AS INT) AS n_installments, CAST(seq AS INT) AS seq,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(amount) AS BIGINT) AS sum_cents
    FROM inst GROUP BY n, seq ORDER BY n_installments, seq
    """,
)
def q239_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq INT, amount BIGINT", useArrow=True)
    class Installments:
        def eval(self, cents: int, n: int):
            base, rem = divmod(int(cents), int(n))
            for i in range(int(n)):
                yield i, base + (1 if i < rem else 0)

    spark.udtf.register("installments_q239", Installments)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH o AS (
          SELECT o_orderkey AS k,
            CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
            CAST(1 + o_orderkey % 4 AS INT) AS n
          FROM orders WHERE o_orderkey % 7 = 0)
        SELECT n AS n_installments, i.seq, COUNT(*) AS n_orders,
          CAST(SUM(i.amount) AS BIGINT) AS sum_cents
        FROM o, LATERAL installments_q239(o.cents, o.n) i
        GROUP BY n, i.seq ORDER BY n_installments, seq
        """
    )


# ---------------------------------------------------------------------------
# Q247 — HiveQL dialect surface: LATERAL VIEW explode + DISTRIBUTE BY
# / SORT BY — the exact text a HiveQL migration carries in. LATERAL
# VIEW is Hive's row-expansion clause (q56 covered the DataFrame
# lateral; this is the TEXT form); DISTRIBUTE BY k SORT BY k is
# Hive's "shuffle by k, sort within partitions" — a physical layout
# directive with NO semantic effect on the aggregate built on top,
# which is exactly what the oracle pins (DuckDB has neither clause;
# it computes the same result relationally).
#
# The expansion: every order explodes into a (net, gross) measure
# pair — gross adds the 7% tax in integer cents. At scale LATERAL
# VIEW explode is a scan-stage Generate (no shuffle); DISTRIBUTE BY
# inserts exactly one hash exchange — the clause migrators use to
# pre-shape writes.
# ---------------------------------------------------------------------------
@register(
    "q247_hiveql_dialect",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority, v.measure,
        CASE WHEN v.measure = 'net'
             THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 107 // 100
        END AS cents
      FROM orders, (VALUES ('net'), ('gross')) v(measure))
    SELECT priority, measure,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM m GROUP BY priority, measure ORDER BY priority, measure
    """,
)
def q247_hiveql_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT priority, measure,
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN measure = 'net' THEN cents
                        ELSE cents * 107 DIV 100 END) AS BIGINT) AS sum_cents
        FROM (
          SELECT o_orderpriority AS priority,
            CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders
          DISTRIBUTE BY o_orderpriority SORT BY o_orderpriority
        ) base
        LATERAL VIEW explode(array('net', 'gross')) m AS measure
        GROUP BY priority, measure
        ORDER BY priority, measure
        """
    )


# ---------------------------------------------------------------------------
# Q248 — Hive script TRANSFORM: `SELECT TRANSFORM(...) USING 'cmd'`
# pipes rows through an EXTERNAL process as tab-separated text — the
# HiveQL escape hatch for shell/awk/legacy-binary logic, and a
# surface Spark supports natively (no Hive metastore needed, no-serde
# mode). Two arms: 'cat' proves the TSV round trip is lossless
# (types come back as STRING — the documented contract — and cast
# back exactly for integers), and the re-aggregated result must match
# the never-piped oracle.
#
# Scale note: TRANSFORM forks the command once per task and streams
# rows through a pipe — row-at-a-time TEXT, the slowest lane in the
# engine (slower than Arrow Python). It exists for migration parity;
# the docstring IS the deprecation notice: rewrite to built-ins or
# mapInPandas once the legacy script's logic is understood.
# ---------------------------------------------------------------------------
@register(
    "q248_script_transform",
    oracle="""
    SELECT o_orderstatus AS status,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    GROUP BY o_orderstatus ORDER BY status
    """,
)
def q248_script_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH piped AS (
          SELECT TRANSFORM(o_orderstatus,
                           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            USING 'cat' AS (status STRING, cents STRING)
          FROM orders
        )
        SELECT status, COUNT(*) AS n_rows,
          CAST(SUM(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents
        FROM piped GROUP BY status ORDER BY status
        """
    )


# ---------------------------------------------------------------------------
# Q254 — SQL DML statements lowered to the transactional commit log
# (round-8 verdict "What's missing" #4): OSS Spark only executes
# MERGE/UPDATE/DELETE against v2 catalogs, so the engine supplies the
# missing half as a dialect lowering — the statement TEXT is parsed
# here (the q247 dialect pattern) and executed as txlog
# minimal-rewrite commits (the q125/q126 machinery): stats-based file
# pruning picks the affected files, ONLY those are rewritten, and one
# atomic commit publishes remove(affected) + add(rewrites [+ insert
# file]) under optimistic concurrency.
#
# Grammar (the production-shaped subset):
#   DELETE FROM t WHERE <predicate>
#   UPDATE t SET col = expr [, ...] WHERE <predicate>
#   MERGE INTO t USING src ON t.k = src.k
#     { WHEN MATCHED [AND cond] THEN UPDATE SET col = expr [, ...]
#     | WHEN MATCHED [AND cond] THEN DELETE
#     | WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT *
#     | WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
#     | WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... }+
# Predicates and SET expressions pass through Catalyst via F.expr —
# the parser extracts structure, not expression semantics. File
# pruning derives from a `col BETWEEN lo AND hi` conjunct on the
# stats column (DELETE/UPDATE) or from the source's key min/max
# (MERGE) — the same derivation a real skipping planner performs.
#
# Scale design: cost per statement is proportional to the AFFECTED
# byte count (pruned scan + rewrite), never the table; the ledger
# proves it (n_added/n_removed = affected file counts, not 16).
# ---------------------------------------------------------------------------
import re as _re

_DML_DELETE_RE = _re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<tbl>\w+)(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_DML_UPDATE_RE = _re.compile(
    r"^\s*UPDATE\s+(?P<tbl>\w+)\s+SET\s+(?P<sets>.+?)\s+"
    r"WHERE\s+(?P<where>.+?)\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
# MERGE splits into a header + a WHEN-clause list (round-10 verdict
# task 4 added the remaining production CDC shapes):
#   WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
#   WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT *
#   WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...
# Clauses apply per row in statement order, first-true wins — the
# standard MERGE cascade. Conditions pass through Catalyst via F.expr
# (so they may not themselves contain the keywords WHEN/THEN — the
# production-shaped subset, same caveat as the dialect lowerings).
_DML_MERGE_HDR_RE = _re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<tbl>\w+)(?:\s+AS)?(?:\s+(?P<talias>\w+))?\s+"
    r"USING\s+(?P<src>\w+)(?:\s+AS)?(?:\s+(?P<salias>\w+))?\s+"
    r"ON\s+(?P<on>.+?)\s+(?=WHEN\s)",
    _re.IGNORECASE | _re.DOTALL,
)
_DML_WHEN_RE = _re.compile(
    r"WHEN\s+(?P<neg>NOT\s+)?MATCHED"
    r"(?P<bysrc>\s+BY\s+SOURCE)?(?P<bytgt>\s+BY\s+TARGET)?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.+?|DELETE|INSERT\s+\*)"
    r"(?=\s+WHEN\s|\s*;?\s*$)",
    _re.IGNORECASE | _re.DOTALL,
)
_DML_ALTER_ADD_RE = _re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>\w+)\s+ADD\s+COLUMN\s+"
    r"(?P<col>\w+)\s+(?P<type>[\w()\s,]+?)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_ALTER_RENAME_RE = _re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>\w+)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_ALTER_DROP_RE = _re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>\w+)\s+DROP\s+COLUMN\s+"
    r"(?P<col>\w+)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_RESTORE_RE = _re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<tbl>\w+)\s+TO\s+VERSION\s+AS\s+OF\s+"
    r"(?P<ver>\d+)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_ADD_CONSTRAINT_RE = _re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>\w+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+CHECK\s*\((?P<expr>.+)\)\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_DML_DROP_CONSTRAINT_RE = _re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>\w+)\s+DROP\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_VACUUM_RE = _re.compile(
    r"^\s*VACUUM\s+(?P<tbl>\w+)\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_REORG_RE = _re.compile(
    r"^\s*REORG\s+TABLE\s+(?P<tbl>\w+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    _re.IGNORECASE,
)
_DML_BETWEEN_RE = _re.compile(
    r"(\w+)\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)", _re.IGNORECASE
)
_DML_ON_RE = _re.compile(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)")


def _split_assignments(text: str) -> list[tuple[str, str]]:
    """Depth-0 comma split of `col = expr [, ...]`."""
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out = []
    for p in parts:
        col, _, expr = p.partition("=")
        if not expr:
            raise ValueError(f"malformed assignment: {p!r}")
        out.append((col.strip(), expr.strip()))
    return out


def _dml_prune_range(where: str, stats_col: str, m: int) -> tuple[int, int]:
    """Skipping range from a BETWEEN conjunct on the stats column;
    full range when the predicate gives the planner nothing."""
    for col, lo, hi in _DML_BETWEEN_RE.findall(where):
        if col.lower() == stats_col.lower():
            return int(lo), int(hi)
    return 0, m


def _read_affected(
    spark, tl, all_files: list[str], affected: list[str],
    version: int | None = None,
):
    """DataFrame over the affected files AT THE LOGICAL SCHEMA of the
    snapshot being modified — delegated to TxLog._read_files, so it
    inherits all three snapshot-read behaviors the DML rewrite must
    compose with: NULL-fill of columns a file predates (metadata-only
    ALTER ADD COLUMN, so DML can SET them), deletion-vector filtering
    (a rewrite that read affected files raw would RESURRECT rows a
    prior merge-on-read DELETE hid — and let a MERGE match them), and
    column-mapping resolution (post-RENAME files carry physical
    names; DML expressions speak logical names). When pruning chose
    none, an empty frame with the table's schema (spark.read.parquet
    with zero paths cannot infer one) so a no-op statement commits
    add=[] instead of crashing."""
    if affected:
        dvs = tl.dvs(version) if version is not None and version >= 0 else {}
        return tl._read_files(spark, affected, dvs, version=version)
    if all_files:
        return tl._read_files(spark, all_files, {}, version=version).where(
            F.lit(False)
        )
    # table already emptied by a prior statement: zero files, schema
    # comes from the log's recorded schema
    return tl.empty_df(spark, version)


def _dml_restage(tl, expected: int, aff_df, out, m: int):
    """The rewrite step DELETE, UPDATE and MERGE share: stage ``out``,
    the rewritten rows of the affected files ``aff_df`` read at
    ``expected``, as one stats-carrying file per bucket, and return
    ``(adds, schema)`` for the commit.

    On a column-mapped table the logical schema is unchanged and the
    stash holds physical names, so no schema action publishes
    (``schema`` is None). ``out`` is then cast back to ``aff_df``'s
    column types, since no schema action may record a type a SET
    expression drifted, and staged at physical names."""
    from hive_clone_spark.sources.txlog import _with_bucket

    mapping = tl.table_meta(expected).get("mapping") or {}
    if mapping:
        ltypes = dict(aff_df.dtypes)
        out = out.select(*[F.col(c).cast(ltypes[c]).alias(c) for c in out.columns])
    adds = tl.stage_data_partitioned(
        tl.to_physical(_with_bucket(out, m), expected),
        "bucket",
        stats_col=mapping.get("o_orderkey", "o_orderkey"),
        stats_key="o_orderkey",
    )
    return adds, None if mapping else tl._staged_schema


def txlog_sql_dml(spark: SparkSession, tl, m: int, statement: str) -> str:
    """Parse one DML statement and execute it as a txlog commit.
    Returns the op name recorded in the log."""
    import pyarrow.parquet as pq

    from hive_clone_spark.sources.txlog import (
        ConstraintViolationError,
        _footer_minmax,
    )

    if (mt := _DML_ALTER_ADD_RE.match(statement)) is not None:
        # metadata-only schema evolution: one commit, no data touched
        tl.alter_add_column(spark, mt["col"], mt["type"])
        return "alter-add-column"

    if (mt := _DML_ALTER_RENAME_RE.match(statement)) is not None:
        # metadata-only rename over the column-mapping protocol
        tl.alter_rename_column(spark, mt["old"], mt["new"])
        return "alter-rename-column"

    if (mt := _DML_ALTER_DROP_RE.match(statement)) is not None:
        # metadata-only drop: logical schema shrink + mapping retire
        tl.alter_drop_column(spark, mt["col"])
        return "alter-drop-column"

    if (mt := _DML_RESTORE_RE.match(statement)) is not None:
        # file-level net-diff rollback: one commit, no data rewritten
        tl.restore(spark, int(mt["ver"]))
        return "restore"

    if (mt := _DML_ADD_CONSTRAINT_RE.match(statement)) is not None:
        # Delta's ADD CONSTRAINT: validate EXISTING data once at ALTER
        # time (one distributed scan), then publish the new set — so
        # the commit_checked induction ("existing data is valid")
        # holds from this version forward. Optimistic RMW: the scan
        # runs AT the token version, so a write landing between scan
        # and publish conflicts and the retry revalidates — the
        # constraint can never be armed over unvalidated rows, and a
        # concurrent constraint change is never clobbered.
        expr = mt["expr"].strip()

        def add_constraint(expected: int) -> int:
            snap = tl.read(spark, expected) if expected >= 0 else None
            # CHECK semantics: violated only when strictly FALSE (NULL
            # passes) — same predicate commit_checked counts
            n_bad = (
                snap.where(F.expr(expr).eqNullSafe(F.lit(False))).count()
                if snap is not None
                else 0
            )
            if n_bad:
                raise ConstraintViolationError({mt["name"]: int(n_bad)})
            return tl.set_constraints(
                {**tl.constraints(expected), mt["name"]: expr},
                expected_version=expected,
            )

        tl.transact(add_constraint)
        return "set-constraints"

    if (mt := _DML_DROP_CONSTRAINT_RE.match(statement)) is not None:

        def drop_constraint(expected: int) -> int:
            cons = dict(tl.constraints(expected))
            if mt["name"] not in cons:
                raise ValueError(
                    f"txlog: no such constraint {mt['name']!r}"
                )
            del cons[mt["name"]]
            return tl.set_constraints(cons, expected_version=expected)

        tl.transact(drop_constraint)
        return "set-constraints"

    if (mt := _DML_VACUUM_RE.match(statement)) is not None:
        tl.vacuum(int(mt["n"]))
        return "vacuum"

    if _DML_REORG_RE.match(statement) is not None:
        # fold merge-on-read deletion vectors into targeted rewrites
        tl.reorg_purge(spark)
        return "reorg-purge"

    if (mt := _DML_DELETE_RE.match(statement)) is not None:
        # no WHERE = unconditional DELETE: every row goes, committing a
        # legal EMPTY version (remove all files, add none)
        where = mt.group("where") or "TRUE"
        lo, hi = _dml_prune_range(where, "o_orderkey", m)

        def delete(expected: int) -> int:
            all_f, affected = tl.scan_files("o_orderkey", lo, hi, version=expected)
            aff_df = _read_affected(spark, tl, all_f, affected, version=expected)
            # SQL DELETE removes only rows where the predicate is TRUE;
            # a plain ~expr also drops NULL-predicate rows (three-valued
            # logic: NOT NULL = NULL, filtered out). eqNullSafe pins
            # NULL to "not deleted".
            adds, schema = _dml_restage(
                tl, expected, aff_df,
                aff_df.where(~F.expr(where).eqNullSafe(F.lit(True))), m,
            )
            # plain commit: a DELETE rewrite stages a SUBSET of
            # already-valid rows, so CHECK constraints hold by
            # induction — no staged-file scan needed (UPDATE and
            # MERGE, which produce new values, go through
            # commit_checked)
            return tl.commit("delete", add=adds, remove=affected,
                             expected_version=expected, schema=schema)

        tl.transact(delete)
        return "delete"

    if (mt := _DML_UPDATE_RE.match(statement)) is not None:
        where, sets = mt.group("where"), _split_assignments(mt.group("sets"))
        lo, hi = _dml_prune_range(where, "o_orderkey", m)

        def update(expected: int) -> int:
            all_f, affected = tl.scan_files("o_orderkey", lo, hi, version=expected)
            aff_df = _read_affected(spark, tl, all_f, affected, version=expected)
            # SQL UPDATE evaluates every SET RHS against the PRE-update
            # row (so `SET a = b, b = a` swaps); a chained withColumn
            # would let later assignments see earlier targets' new
            # values. One select computes all overrides against the
            # un-mutated frame. A NULL WHERE falls to otherwise(): the
            # row is not updated, matching TRUE-only UPDATE semantics.
            set_map = dict(sets)
            cond = F.expr(where)
            upd = aff_df.select(
                *[
                    F.when(cond, F.expr(set_map[c])).otherwise(F.col(c)).alias(c)
                    if c in set_map
                    else F.col(c)
                    for c in aff_df.columns
                ]
            )
            adds, schema = _dml_restage(tl, expected, aff_df, upd, m)
            return tl.commit_checked(spark, "update", add=adds,
                                     remove=affected,
                                     expected_version=expected,
                                     schema=schema)

        tl.transact(update)
        return "update"

    if (mh := _DML_MERGE_HDR_RE.match(statement)) is not None:
        talias = mh.group("talias") or mh.group("tbl")
        salias = mh.group("salias") or mh.group("src")
        on = mh.group("on")
        clauses = []  # (side, kind, cond, sets) in statement order
        for wm in _DML_WHEN_RE.finditer(statement, mh.end()):
            action = wm.group("action")
            kind = action.split(None, 1)[0].lower()  # update | delete | insert
            # BY SOURCE / BY TARGET only qualify NOT MATCHED; a typo'd
            # "WHEN MATCHED BY SOURCE" must error, not silently parse as
            # plain WHEN MATCHED with different semantics
            if (wm.group("bysrc") or wm.group("bytgt")) and not wm.group("neg"):
                raise ValueError(
                    "BY SOURCE / BY TARGET is only valid after WHEN NOT MATCHED"
                )
            if wm.group("bysrc") and wm.group("bytgt"):
                raise ValueError("BY SOURCE and BY TARGET are mutually exclusive")
            if wm.group("neg") and wm.group("bysrc"):
                side = "by_source"  # target rows with no source match
            elif wm.group("neg"):
                side = "not_matched"  # source rows with no target match
            else:
                side = "matched"
            if side == "not_matched" and kind != "insert":
                raise ValueError("WHEN NOT MATCHED [BY TARGET] only supports INSERT *")
            if side != "not_matched" and kind == "insert":
                raise ValueError("INSERT is only valid in WHEN NOT MATCHED")
            sets = (
                _split_assignments(
                    _re.split(r"\bSET\b", action, maxsplit=1,
                              flags=_re.IGNORECASE)[1]
                )
                if kind == "update"
                else []
            )
            clauses.append((side, kind, wm.group("cond"), sets))
        if not clauses:
            raise ValueError("MERGE needs at least one WHEN clause")
        onm = _DML_ON_RE.search(on)
        if onm is None:
            raise ValueError("MERGE ON must be an alias.col = alias.col equality")
        a1, c1, a2, c2 = onm.groups()
        if a1.lower() == salias.lower():
            src_key, tgt_key = c1, c2
        else:
            src_key, tgt_key = c2, c1
        src_df = spark.table(mh.group("src"))
        tgt_clauses = [c for c in clauses if c[0] in ("matched", "by_source")]
        ins_clauses = [c for c in clauses if c[0] == "not_matched"]
        has_by_source = any(c[0] == "by_source" for c in clauses)
        # SQL standard cardinality check: MERGE must error when more
        # than one source row matches the same target row — the left
        # join below would otherwise silently DUPLICATE the target row
        # in the rewrite. One map-side-combinable agg on the (small,
        # broadcastable) source; at scale this is the same pass the
        # source's own key-bounds derivation already makes.
        # ONE source pass profiles everything the planner needs: the
        # key bounds (file skipping) and the max per-key multiplicity
        # (cardinality pre-check) — previously two jobs per statement.
        prof = (
            src_df.groupBy(src_key)
            .count()
            .agg(
                F.min(src_key).alias("lo"),
                F.max(src_key).alias("hi"),
                F.max("count").alias("max_dup"),
            )
            .collect()[0]
        )
        src_empty = prof["lo"] is None
        has_dup_keys = (
            tgt_clauses and not src_empty and int(prof["max_dup"]) > 1
        )
        dup_keys = (
            src_df.groupBy(src_key)
            .count()
            .where(F.col("count") > 1)
            .select(F.col(src_key).alias("__dup_key"))
            if has_dup_keys
            else None
        )

        def merge(expected: int) -> int:
            all_files, pruned = tl.scan_files(
                tgt_key,
                int(prof["lo"]) if not src_empty else 0,
                int(prof["hi"]) if not src_empty else m,
                version=expected,
            )
            # A BY SOURCE clause can touch ANY target row (its subject
            # is rows the source does NOT match), so source-bound file
            # skipping is unsound there — every active file is affected.
            # An EMPTY source matches no target row: without BY SOURCE
            # nothing is affected (the statement is a no-op commit);
            # with BY SOURCE every row is unmatched and every file is
            # still in play.
            if has_by_source:
                affected = all_files
            elif src_empty:
                affected = []
            else:
                affected = pruned
            aff_df = _read_affected(spark, tl, all_files, affected, version=expected)
            tgt_cols = [c for c in aff_df.columns if c != "bucket"]
            if dup_keys is not None:
                # SQL-standard cardinality check, INSIDE each attempt
                # and against the SAME snapshot the commit is validated
                # at (version=expected): a concurrent commit landing a
                # row that matches a duplicated source key between a
                # pre-loop check and a retried commit would otherwise
                # admit a duplicate-match MERGE. Dup keys that all land
                # in NOT MATCHED are legal (insert per row). aff_df
                # covers every matchable row: source-key-bounds pruning
                # keeps any file that can hold a matching key.
                hit = (
                    dup_keys.join(
                        aff_df,
                        F.col("__dup_key") == F.col(tgt_key),
                        "left_semi",
                    )
                    .limit(1)
                    .collect()
                )
                if hit:
                    raise ValueError(
                        "MERGE cardinality violation: source has "
                        f"multiple rows for {src_key}={hit[0][0]!r} "
                        "matching a target row"
                    )
            joined = (
                aff_df.alias(talias)
                .join(F.broadcast(src_df).alias(salias), F.expr(on), "left")
            )
            matched = F.col(f"{salias}.{src_key}").isNotNull()
            # First-true-wins clause cascade: one action tag per target
            # row ("u<i>" = update by clause i, "d" = delete, "keep").
            # A NULL AND-condition never fires its clause (eqNullSafe),
            # matching MERGE's TRUE-only clause conditions.
            adds: list[dict] = []
            removes: list[str] = []
            merge_schema: dict | None = None
            if tgt_clauses:
                act = None
                for i, (side, kind, cond, _sets) in enumerate(tgt_clauses):
                    c = matched if side == "matched" else ~matched
                    if cond:
                        c = c & F.expr(cond).eqNullSafe(F.lit(True))
                    tag = F.lit(f"u{i}" if kind == "update" else "d")
                    act = F.when(c, tag) if act is None else act.when(c, tag)
                act = act.otherwise(F.lit("keep"))
                survivors = joined.withColumn("__dml_action", act).where(
                    F.col("__dml_action") != "d"
                )
                # All SET RHS evaluate against the pre-merge joined row
                # (simultaneous-assignment semantics, as in UPDATE above).
                out_cols = []
                for c in tgt_cols:
                    val = F.col(f"{talias}.{c}")
                    for i, (_side, kind, _cond, sets) in reversed(
                        list(enumerate(tgt_clauses))
                    ):
                        smap = dict(sets)
                        if kind == "update" and c in smap:
                            val = F.when(
                                F.col("__dml_action") == f"u{i}",
                                F.expr(smap[c]),
                            ).otherwise(val)
                    out_cols.append(val.alias(c))
                # the table's logical schema is the REWRITTEN target
                # layout, taken before the insert staging below
                # overwrites the stash with the insert frame's schema
                # (same names/order today, but source-typed columns)
                adds, merge_schema = _dml_restage(
                    tl, expected, aff_df, survivors.select(*out_cols), m
                )
                removes = affected
            # insert-only MERGE: no target row changes, so nothing is
            # rewritten or removed (a rewrite through the join would
            # also duplicate targets matched by several source rows —
            # allowed for INSERT, fatal for a copy-on-write rewrite)
            ins_adds: list[dict] = []
            if ins_clauses:
                # INSERT *: source columns by name, CAST to the target
                # column type (a source/target type difference must not
                # leak source-typed parquet files under the table's
                # logical schema — snapshot reads enforce the logical
                # schema and would fail converting pre-merge files);
                # target columns the source lacks are NULL-filled at
                # the target type (the INSERT(cols) behavior for
                # unlisted columns)
                tgt_types = dict(aff_df.dtypes)
                inserts = (
                    src_df.alias(salias)
                    .join(aff_df.alias(talias), F.expr(on), "left_anti")
                    .select(
                        *[
                            F.col(f"{salias}.{c}")
                            .cast(tgt_types[c])
                            .alias(c)
                            if c in src_df.columns
                            else F.lit(None).cast(tgt_types[c]).alias(c)
                            for c in tgt_cols
                        ]
                    )
                )
                # clause cascade for inserts: a source row inserts if the
                # first NOT-MATCHED clause whose condition holds is an
                # INSERT — with INSERT * every clause produces the same
                # row, so the cascade reduces to OR-ing the conditions
                # (an unconditioned clause makes the OR vacuously true)
                ins_conds = [c[2] for c in ins_clauses]
                if all(ins_conds):
                    pred = None
                    for cond in ins_conds:
                        t = F.expr(cond).eqNullSafe(F.lit(True))
                        pred = t if pred is None else pred | t
                    inserts = inserts.where(pred)
                # Stage first, then take the key bounds from the staged
                # file's own parquet footer (zero extra Spark jobs — the
                # pre-r14 shape ran a separate min/max aggregate over
                # the insert frame before staging it, computing the
                # anti-join twice). Emptiness comes from the footer's
                # row count: a file with no NOT-MATCHED rows is dropped
                # and commits no insert action, exactly the old no-op
                # path. A non-empty file without key min/max (e.g. all
                # inserted keys NULL) is kept with a stats-less add,
                # which readers scan conservatively.
                ins_adds = tl.stage_data(
                    tl.to_physical(inserts, expected), n_files=1
                )
                mapping = tl.table_meta(expected).get("mapping") or {}
                pkey = mapping.get(tgt_key, tgt_key)
                kept = []
                for a in ins_adds:
                    path = tl.root / a["file"]
                    if pq.read_metadata(path).num_rows == 0:
                        path.unlink()
                        continue
                    mnmx = _footer_minmax(path, pkey)
                    if mnmx is not None:
                        a["stats"] = {tgt_key: [mnmx[0], mnmx[1]]}
                    kept.append(a)
                ins_adds = kept
            # tgt_clauses: publish the REWRITTEN target layout.
            # insert-only: schema=None publishes NO schema action and
            # suppresses commit()'s staged-stash fallback — the stash
            # here holds the INSERT frame's (source-cast) schema, and
            # an insert-only MERGE never changes the table's logical
            # schema.
            return tl.commit_checked(spark, "merge", add=adds + ins_adds,
                                     remove=removes,
                                     expected_version=expected,
                                     schema=merge_schema)

        tl.transact(merge)
        return "merge"

    raise ValueError(f"unsupported DML statement: {statement[:80]!r}")


_DML_INSERTS = 100


@register(
    "q254_sql_dml_txlog",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng1 AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    rng2 AS (SELECT m // 2 + 1 AS lo, (3 * m) // 4 AS hi FROM mx),
    rng3 AS (SELECT (3 * m) // 4 + 1 AS lo, m AS hi FROM mx),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * 16) // (m + 1) AS bucket
      FROM orders, mx),
    bstats AS (
      SELECT bucket, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
      FROM b GROUP BY bucket),
    aff1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bstats, rng1
             WHERE mn <= hi AND mxk >= lo),
    aff2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bstats, rng2
             WHERE mn <= hi AND mxk >= lo),
    srcmin AS (SELECT MIN(o_orderkey) AS v FROM b, rng3
               WHERE o_orderkey % 101 = 0
                 AND o_orderkey BETWEEN lo AND hi),
    aff3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bstats, srcmin, mx
             WHERE mn <= m + 100 AND mxk >= v),
    del_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_del,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s_del
      FROM b, rng1
      WHERE o_orderkey % 97 = 0 AND o_orderkey BETWEEN lo AND hi),
    upd AS (
      SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                      CAST(0.00 AS DECIMAL(18,2))) AS s_upd
      FROM b, rng2 WHERE o_orderkey BETWEEN lo AND hi),
    mrg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_m,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s_m
      FROM b, rng3
      WHERE o_orderkey % 101 = 0 AND o_orderkey BETWEEN lo AND hi),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM b),
    keep_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keep,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_keep,
        CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_bkt
      FROM b, mx WHERE o_orderkey <= m // 8),
    purgeb AS (
      SELECT CAST(COUNT(DISTINCT ((m + i) * 16) // (m + 1)) AS BIGINT)
        AS n_bkt4
      FROM generate_series(2, 100, 2) AS t(i), mx)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST(16 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', aff1.n, aff1.n,
      n_tot - n_del, CAST(s_tot - s_del AS DOUBLE)
    FROM tot, del_, aff1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update', aff2.n, aff2.n,
      n_tot - n_del, CAST(s_tot - s_del + s_upd AS DOUBLE)
    FROM tot, del_, upd, aff2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'merge', aff3.n + 1, aff3.n,
      n_tot - n_del + 100,
      CAST(s_tot - s_del + s_upd - s_m
           + CAST(50.00 AS DECIMAL(18,2)) * n_m
           + CAST(100 * 25.25 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, del_, upd, mrg, aff3
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'merge', n_bkt4, CAST(1 AS BIGINT),
      n_tot - n_del + 50,
      CAST(s_tot - s_del + s_upd - s_m
           + CAST(50.00 AS DECIMAL(18,2)) * n_m
           + CAST(50 * 1.00 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, del_, upd, mrg, purgeb
    UNION ALL
    SELECT CAST(5 AS BIGINT), 'merge', n_bkt, CAST(16 AS BIGINT) + n_bkt4,
      n_keep, CAST(s_keep AS DOUBLE)
    FROM keep_, purgeb
    ORDER BY version
    """,
)
def q254_sql_dml_txlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE, UPDATE, and MERGE INTO statement texts executed against
    the commit-log table; the ledger (history + time-travel reads per
    version) is the output, so wrong rewrite sets, wrong row effects,
    or wrong commit accounting all hash-mismatch."""
    from hive_clone_spark.sources.txlog import _stage_bucketed_orders, _version_ledger

    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q254")
    lo1, hi1 = m // 4, m // 2
    lo2, hi2 = m // 2 + 1, (3 * m) // 4
    lo3, hi3 = (3 * m) // 4 + 1, m

    txlog_sql_dml(
        spark, tl, m,
        f"DELETE FROM orders_tx WHERE o_orderkey % 97 = 0"
        f" AND o_orderkey BETWEEN {lo1} AND {hi1}",
    )
    txlog_sql_dml(
        spark, tl, m,
        f"UPDATE orders_tx SET o_totalprice = o_totalprice * 2"
        f" WHERE o_orderkey BETWEEN {lo2} AND {hi2}",
    )
    # MERGE source: flat 50.00 for every matched key in [lo3, hi3]
    # (exact in double and decimal), plus 100 new keys at 25.25
    # (= 101/4, exactly representable)
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    src = (
        o.where(
            (F.col("o_orderkey") % 101 == 0)
            & F.col("o_orderkey").between(lo3, hi3)
        )
        .select("o_orderkey", F.lit(50.0).alias("o_totalprice"))
        .unionByName(
            spark.range(1, _DML_INSERTS + 1).select(
                (F.lit(m) + F.col("id")).alias("o_orderkey"),
                F.lit(25.25).alias("o_totalprice"),
            )
        )
    )
    src.createOrReplaceTempView("q254_merge_src")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO orders_tx AS t USING q254_merge_src AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    # v4 — matched-DELETE cascade (round-10 verdict task 4) over the
    # 100 keys inserted at v3: even keys re-priced to 1.00 by the
    # conditional first clause, odd keys fall through to DELETE. The
    # source bounds [m+1, m+100] prune to exactly the one insert file
    # (n_added = n_removed = 1 in the ledger proves it).
    purge = spark.range(1, _DML_INSERTS + 1).select(
        (F.lit(m) + F.col("id")).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
    )
    purge.createOrReplaceTempView("q254_purge_src")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO orders_tx AS t USING q254_purge_src AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED AND t.o_orderkey % 2 = 0"
        " THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN MATCHED THEN DELETE",
    )
    # v5 — NOT MATCHED BY SOURCE DELETE (retention sync): only keys the
    # source still lists survive. BY SOURCE voids source-bound pruning
    # (any row may be unmatched), so every active file is rewritten —
    # n_removed = every live file, the honest cost of this shape.
    o.where(F.col("o_orderkey") <= m // 8).createOrReplaceTempView(
        "q254_keep_src"
    )
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO orders_tx AS t USING q254_keep_src AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    return _version_ledger(spark, tl)


# ---------------------------------------------------------------------------
# Q256 — streaming CDC apply: a change feed (I/U/D ops) lands as files,
# a Structured Streaming file source drains it availableNow one file
# per micro-batch, and foreachBatch applies EACH batch as one MERGE
# INTO statement through the q254 lowering — exercising the full
# round-10 clause cascade (conditional matched-DELETE, conditional
# matched-UPDATE, conditional INSERT) from the streaming lane. This is
# the production CDC-apply shape: Debezium/feed files -> micro-batch ->
# transactional MERGE, exactly-once per batch because each batch is one
# atomic commit-log publish.
#
# Determinism: batch files get ascending mtimes (the file source
# processes oldest-first), each batch's keys are disjoint ranges, and a
# key -1 'D' sentinel pins every batch's source key bounds to the full
# table range so the affected set is ALL active files — making the
# ledger's n_added/n_removed exactly derivable (16 -> 17 -> 18 active
# files as each batch adds its insert file and re-buckets prior
# inserts into bucket 16).
#
# Scale design: the apply cost per batch is the MERGE's (pruned scan +
# rewrite of affected bytes + one broadcast of the batch); the stream
# machinery adds only batch sequencing. At 100 TB each CDC batch's key
# bounds usually prune to a few files (the sentinel here is a fixture
# device to make accounting exact, not the production shape).
# ---------------------------------------------------------------------------
_CDC_INS = 20
# Bench-bounded CDC window: the sentinel forces every batch to rewrite
# the WHOLE staged table (3 full copy-on-write passes + 4 time-travel
# ledger scans), so the staged slice caps at this key bound — ~24 s of
# full-orders rewrites at sf0.1 otherwise, with no added coverage. At
# sf0.001 the cap is above max(o_orderkey) and the slice is the whole
# table.
_CDC_KEY_CAP = 10_000


@register(
    "q256_stream_cdc_merge",
    oracle=f"""
    WITH od AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey <= {_CDC_KEY_CAP}),
    mx AS (SELECT MAX(o_orderkey) AS m FROM od),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM od),
    u1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c7,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s7
      FROM od, mx
      WHERE o_orderkey % 7 = 0 AND o_orderkey BETWEEN 1 AND m // 4),
    d2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c11,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s11
      FROM od, mx
      WHERE o_orderkey % 11 = 0
        AND o_orderkey BETWEEN m // 4 + 1 AND m // 2),
    u2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c13,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s13
      FROM od, mx
      WHERE o_orderkey % 13 = 0
        AND o_orderkey BETWEEN m // 2 + 1 AND (3 * m) // 4),
    d3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c17,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s17
      FROM od, mx
      WHERE o_orderkey % 17 = 0
        AND o_orderkey BETWEEN (3 * m) // 4 + 1 AND m)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST(16 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'merge', CAST(17 AS BIGINT),
      CAST(16 AS BIGINT),
      n_tot + {_CDC_INS},
      CAST(s_tot - s7 + CAST(1.00 AS DECIMAL(18,2)) * c7
           + CAST({_CDC_INS} * 11.50 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, u1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'merge', CAST(18 AS BIGINT),
      CAST(17 AS BIGINT),
      n_tot + 2 * {_CDC_INS} - c11,
      CAST(s_tot - s7 + CAST(1.00 AS DECIMAL(18,2)) * c7
           + CAST({_CDC_INS} * 11.50 AS DECIMAL(18,2))
           - s11 - s13 + CAST(2.00 AS DECIMAL(18,2)) * c13
           + CAST({_CDC_INS} * 12.25 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, u1, d2, u2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'merge', CAST(18 AS BIGINT),
      CAST(18 AS BIGINT),
      n_tot + 3 * {_CDC_INS} - c11 - c17,
      CAST(s_tot - s7 + CAST(1.00 AS DECIMAL(18,2)) * c7
           + CAST({_CDC_INS} * 11.50 AS DECIMAL(18,2))
           - s11 - s13 + CAST(2.00 AS DECIMAL(18,2)) * c13
           + CAST({_CDC_INS} * 12.25 AS DECIMAL(18,2))
           - s17
           - CAST(10 * 11.50 AS DECIMAL(18,2))
           + CAST(10 * 3.00 AS DECIMAL(18,2))
           + CAST({_CDC_INS} * 13.75 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, u1, d2, u2, d3
    ORDER BY version
    """,
)
def q256_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed -> file-source stream -> foreachBatch MERGE apply;
    the commit-log version ledger is the output, so wrong batch order,
    a lost clause, or broken per-batch atomicity all hash-mismatch."""
    from hive_clone_spark.sources.txlog import (
        TxLog,
        _version_ledger,
        _warehouse_dir,
        _with_bucket,
    )
    from hive_clone_spark.streaming.streams import run_foreach

    # version 0: the capped orders slice, bucketed (q254's layout)
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q256")).create()
    od = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .where(F.col("o_orderkey") <= _CDC_KEY_CAP)
    )
    m = int(od.agg(F.max("o_orderkey")).collect()[0][0])
    bucketed = _with_bucket(od, m)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(bucketed, "bucket", stats_col="o_orderkey"),
    )
    o = od.select("o_orderkey")

    feed_dir = _warehouse_dir(sf_dir, "q256_feed")
    ckpt_dir = _warehouse_dir(sf_dir, "q256_ckpt")

    # range-based, not createDataFrame: a createDataFrame(list) row is
    # a Scan ExistingRDD that runs a Python-worker stage on every
    # action (see session.local_rows). That 1-row sentinel wrote in
    # 4.8 s warm; the identical range(1) projection writes in 0.3 s
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.lit(0.0).alias("o_totalprice"),
        F.lit("D").alias("op"),
    )

    def ops(where_expr, op, price):
        return o.where(F.expr(where_expr)).select(
            F.col("o_orderkey").cast("long"),
            F.lit(price).alias("o_totalprice"),
            F.lit(op).alias("op"),
        )

    def inserts(lo, price):
        return spark.range(lo, lo + _CDC_INS).select(
            (F.lit(m) + F.col("id")).cast("long").alias("o_orderkey"),
            F.lit(price).alias("o_totalprice"),
            F.lit("I").alias("op"),
        )

    batches = [
        ops(f"o_orderkey % 7 = 0 AND o_orderkey BETWEEN 1 AND {m // 4}",
            "U", 1.00)
        .unionByName(inserts(1, 11.50)).unionByName(sentinel),
        ops(
            f"o_orderkey % 11 = 0 AND o_orderkey BETWEEN {m // 4 + 1}"
            f" AND {m // 2}", "D", 0.0)
        .unionByName(ops(
            f"o_orderkey % 13 = 0 AND o_orderkey BETWEEN {m // 2 + 1}"
            f" AND {(3 * m) // 4}", "U", 2.00))
        .unionByName(inserts(_CDC_INS + 1, 12.25)).unionByName(sentinel),
        ops(
            f"o_orderkey % 17 = 0 AND o_orderkey BETWEEN {(3 * m) // 4 + 1}"
            f" AND {m}", "D", 0.0)
        .unionByName(
            # update 10 of the batch-1 inserts (cross-batch dependency
            # pins the batch ORDER, not just the batch set)
            spark.range(1, 11).select(
                (F.lit(m) + F.col("id")).cast("long").alias("o_orderkey"),
                F.lit(3.00).alias("o_totalprice"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(inserts(2 * _CDC_INS + 1, 13.75)).unionByName(sentinel),
    ]
    for i, b in enumerate(batches):
        path = os.path.join(feed_dir, f"batch_{i}")
        b.coalesce(1).write.mode("overwrite").parquet(path)
        # oldest-first processing order is by modification time
        for root, _dirs, files in os.walk(path):
            for fname in files:
                os.utime(os.path.join(root, fname), (1000 + i, 1000 + i))
        os.utime(path, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(
            "o_orderkey BIGINT, o_totalprice DOUBLE, op STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )

    def apply_batch(batch_df, batch_id):
        batch_df.createOrReplaceTempView("q256_cdc_batch")
        txlog_sql_dml(
            batch_df.sparkSession, tl, m,
            "MERGE INTO orders_tx AS t USING q256_cdc_batch AS s"
            " ON t.o_orderkey = s.o_orderkey"
            " WHEN MATCHED AND s.op = 'D' THEN DELETE"
            " WHEN MATCHED AND s.op = 'U'"
            " THEN UPDATE SET o_totalprice = s.o_totalprice"
            " WHEN NOT MATCHED AND s.op = 'I' THEN INSERT *",
        )

    run_foreach(stream, apply_batch, ckpt_dir)
    return _version_ledger(spark, tl)


# ---------------------------------------------------------------------------
# Q257 — the empty-table lifecycle (round-10 verdict task 1, made
# driver-visible): an unconditional DELETE FROM legally empties a
# commit-log table (remove every file, add none), the empty snapshot
# reads back as ZERO rows at the recorded logical schema (no parquet
# footer exists to infer one from — the round-10 property test found
# this exact state crashing the reader), and a follow-up insert-only
# MERGE repopulates from the empty state (zero-file affected read).
# The version ledger covers all three versions, so a reader that
# crashes on the empty snapshot, a DELETE that leaves files behind, or
# a rebuild that mis-stages all hash-mismatch.
#
# Scale design: an empty version is pure log metadata (one commit with
# remove-all actions); reading it touches no data files, and the
# rebuild's cost is the inserted bytes only. Keys cap at the q256
# bench bound so the staged slice stays small at sf0.1.
# ---------------------------------------------------------------------------
_FULLDEL_PRICE = 12.25  # 49/4: exact in double and DECIMAL(18,2)


@register(
    "q257_dml_full_delete",
    oracle=f"""
    WITH od AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey <= {_CDC_KEY_CAP}),
    mx AS (SELECT MAX(o_orderkey) AS m FROM od),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * 16) // (m + 1) AS bucket
      FROM od, mx),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot,
        CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_bkt
      FROM b),
    ins AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ins FROM od
      WHERE o_orderkey % 3 = 0)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      n_bkt AS n_added, CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', CAST(0 AS BIGINT), n_bkt,
      CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
    FROM tot
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'merge', CAST(1 AS BIGINT),
      CAST(0 AS BIGINT), n_ins,
      CAST(CAST({_FULLDEL_PRICE} AS DECIMAL(18,2)) * n_ins AS DOUBLE)
    FROM ins
    ORDER BY version
    """,
)
def q257_dml_full_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unconditional DELETE -> empty snapshot read -> insert-only MERGE
    rebuild, all through the statement lowering; the ledger is the
    output (empty-version rows read through the zero-file path)."""
    from hive_clone_spark.sources.txlog import (
        TxLog,
        _version_ledger,
        _warehouse_dir,
        _with_bucket,
    )

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q257")).create()
    od = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .where(F.col("o_orderkey") <= _CDC_KEY_CAP)
    )
    m = int(od.agg(F.max("o_orderkey")).collect()[0][0])
    bucketed = _with_bucket(od, m)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(bucketed, "bucket", stats_col="o_orderkey"),
    )

    # v1 — no WHERE: every row goes; the commit is remove-all/add-none
    txlog_sql_dml(spark, tl, m, "DELETE FROM orders_tx")

    # v2 — rebuild from the EMPTY table: the MERGE's affected read runs
    # over zero files (schema from the log's recorded sidecar)
    od.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit(_FULLDEL_PRICE).alias("o_totalprice")
    ).createOrReplaceTempView("q257_rebuild_src")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO orders_tx AS t USING q257_rebuild_src AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    # the empty v1 snapshot sums to NULL; pin 0.0 on both sides rather
    # than trusting NULL-vs-NaN canonicalization in the hash compare
    return _version_ledger(spark, tl).withColumn(
        "sum_price", F.coalesce("sum_price", F.lit(0.0))
    )
