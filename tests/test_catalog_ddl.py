"""Catalog/DDL round-trip (sqlapi.py q123/q124 machinery): the session
catalog must hold tables across statements, report them via SHOW/
DESCRIBE, serve reads through spark.table(), and drop cleanly."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_clone_spark.sqlapi import (
    _DDL_DB,
    _create_orders_by_priority,
    _ddl_location,
    _ensure_db,
)


def test_ctas_insert_showtables_describe_read_drop(spark, sf_dir):
    from hive_clone_spark.catalog import register_views

    register_views(spark, sf_dir)
    fq = _create_orders_by_priority(spark)

    shown = spark.sql(f"SHOW TABLES IN {_DDL_DB}").collect()
    assert any(
        r.tableName == "orders_by_priority" and not r.isTemporary for r in shown
    )

    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE {fq}").collect()
        if not r.col_name.startswith("#")
    }
    assert desc == {
        "priority": "string",
        "n_orders": "bigint",
        "total_price": "double",
    }

    back = spark.table(fq)
    n_orders_total = spark.table("orders").count()
    # CTAS rows (5 priorities) + the INSERTed Z-TOTAL rollup
    assert back.count() == 6
    z = back.where(F.col("priority") == "Z-TOTAL").collect()
    assert len(z) == 1 and z[0].n_orders == n_orders_total

    spark.sql(f"DROP TABLE {fq}")
    assert not any(
        r.tableName == "orders_by_priority"
        for r in spark.sql(f"SHOW TABLES IN {_DDL_DB}").collect()
    )


def test_saveastable_roundtrip_and_recreate(spark, sf_dir):
    """The DataFrame-writer path: saveAsTable overwrite must be
    idempotent and the catalog schema must match the frame's."""
    _ensure_db(spark)
    spark.sql(f"DROP TABLE IF EXISTS {_DDL_DB}.t_test")
    loc = _ddl_location("t_test")
    df = spark.range(5).select(
        F.col("id").cast("int").alias("k"), F.lit("x").alias("v")
    )
    for _ in range(2):  # twice: overwrite must not duplicate
        (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", loc)
            .saveAsTable(f"{_DDL_DB}.t_test")
        )
    assert spark.table(f"{_DDL_DB}.t_test").count() == 5
    cols = {
        c.name: c.dataType
        for c in spark.catalog.listColumns(f"{_DDL_DB}.t_test")
    }
    assert cols == {"k": "int", "v": "string"}
    spark.sql(f"DROP TABLE {_DDL_DB}.t_test")


def test_q197_cache_table_serves_from_memory(spark):
    """q197's rollup reads must hit the in-memory relation — Spark 4
    renders the cached scan as 'Scan In-memory table'; the parquet
    text deeper in the string is the cache's BUILD recipe inside
    InMemoryRelation, not a live re-scan."""
    from hive_clone_spark.sqlapi import q197_cache_table

    df = q197_cache_table(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan In-memory table q197_day_rollup" in plan
    assert spark.catalog.isCached("q197_day_rollup")
