"""SQL-DML lowering edge cases (round-10 advice items).

q254's oracle exercises the happy paths; these tests pin the
three-valued-logic and simultaneous-assignment corners that a
general-purpose DML executor must get right even though the ledger
entry never hits them:

  * DELETE with a predicate that is NULL for some rows must KEEP those
    rows (SQL deletes only where the predicate is TRUE);
  * UPDATE evaluates every SET RHS against the pre-update row, so
    ``SET a = b, b = a`` swaps instead of copying;
  * MERGE whose source has no NOT-MATCHED rows stages no insert file
    (previously crashed on int(None) bounds);
  * MERGE WHEN MATCHED THEN DELETE / WHEN NOT MATCHED BY SOURCE
    cascade ordering (first-true-wins).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hive_clone_spark.sqlapi import txlog_sql_dml
from hive_clone_spark.sources.txlog import (
    TxLog,
    _bucket_stats,
    _with_bucket,
)


@pytest.fixture()
def small_log(spark, tmp_path):
    """A 16-bucket log over keys 1..30 with a NULLABLE flag column."""
    m = 30
    df = spark.range(1, m + 1).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") * 10.0).alias("o_totalprice"),
        # flag: NULL for keys % 3 == 0, else key % 2 == 0
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("boolean"))
        .otherwise(F.col("id") % 2 == 0)
        .alias("flag"),
    )
    tl = TxLog(str(tmp_path / "log")).create()
    bucketed = _with_bucket(df, m)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(bucketed, "bucket", _bucket_stats(bucketed)),
    )
    return tl, m


def _read(spark, tl):
    return tl.read(spark, tl.latest_version())


def test_delete_null_predicate_keeps_rows(spark, small_log):
    tl, m = small_log
    txlog_sql_dml(spark, tl, m, "DELETE FROM t WHERE flag")
    keys = sorted(r["o_orderkey"] for r in _read(spark, tl).collect())
    # deleted: flag TRUE = even keys not divisible by 3; NULL-flag rows
    # (multiples of 3) and FALSE rows survive
    expected = [k for k in range(1, m + 1) if not (k % 2 == 0 and k % 3 != 0)]
    assert keys == expected


def test_update_simultaneous_assignment_swaps(spark, small_log):
    tl, m = small_log
    # o_totalprice <-> o_orderkey swap on keys 1..5: each RHS must see
    # the PRE-update value of the other column
    txlog_sql_dml(
        spark, tl, m,
        "UPDATE t SET o_orderkey = CAST(o_totalprice AS BIGINT),"
        " o_totalprice = CAST(o_orderkey AS DOUBLE)"
        " WHERE o_orderkey BETWEEN 1 AND 5",
    )
    rows = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in _read(spark, tl).where(F.col("o_totalprice") <= 5.0).collect()
    }
    assert rows == {10: 1.0, 20: 2.0, 30: 3.0, 40: 4.0, 50: 5.0}


def test_update_null_predicate_rows_unchanged(spark, small_log):
    tl, m = small_log
    txlog_sql_dml(spark, tl, m, "UPDATE t SET o_totalprice = 0.0 WHERE flag")
    prices = {
        r["o_orderkey"]: r["o_totalprice"] for r in _read(spark, tl).collect()
    }
    for k in range(1, m + 1):
        if k % 2 == 0 and k % 3 != 0:  # flag TRUE
            assert prices[k] == 0.0
        else:  # flag FALSE or NULL: untouched
            assert prices[k] == k * 10.0


def test_merge_no_inserts_stages_no_file(spark, small_log):
    tl, m = small_log
    # source keys all exist in the target -> zero NOT-MATCHED rows
    spark.range(1, 6).select(
        F.col("id").alias("o_orderkey"), F.lit(99.0).alias("o_totalprice")
    ).createOrReplaceTempView("dml_src_allmatch")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_allmatch AS s ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    snap = _read(spark, tl)
    assert snap.count() == m  # no phantom inserts
    assert snap.where(F.col("o_totalprice") == 99.0).count() == 5
    # the commit carries only the bucket rewrite, no stats-less insert add
    hist = tl.history()[-1]
    assert hist["op"] == "merge"
    assert hist["n_added"] == hist["n_removed"]


def test_merge_matched_delete_cascade(spark, small_log):
    tl, m = small_log
    spark.range(1, 11).select(
        F.col("id").alias("o_orderkey"), F.lit(1.0).alias("o_totalprice")
    ).createOrReplaceTempView("dml_src_cascade")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t AS t USING dml_src_cascade AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED AND t.o_orderkey % 2 = 0"
        " THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN MATCHED THEN DELETE",
    )
    rows = {
        r["o_orderkey"]: r["o_totalprice"] for r in _read(spark, tl).collect()
    }
    for k in range(1, 11):
        if k % 2 == 0:
            assert rows[k] == 1.0  # first clause wins
        else:
            assert k not in rows  # fell through to DELETE
    for k in range(11, m + 1):
        assert rows[k] == k * 10.0  # unmatched target rows untouched


def test_merge_not_matched_by_source_delete(spark, small_log):
    tl, m = small_log
    spark.range(1, 11).select(
        F.col("id").alias("o_orderkey")
    ).createOrReplaceTempView("dml_src_keep")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_keep AS s ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    keys = sorted(r["o_orderkey"] for r in _read(spark, tl).collect())
    assert keys == list(range(1, 11))
    # BY SOURCE voids pruning: every active file is rewritten
    assert tl.history()[-1]["n_removed"] == 16


def test_merge_not_matched_by_source_update(spark, small_log):
    tl, m = small_log
    spark.range(1, 11).select(
        F.col("id").alias("o_orderkey")
    ).createOrReplaceTempView("dml_src_zero")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_zero AS s ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_totalprice = -1.0",
    )
    snap = _read(spark, tl)
    assert snap.count() == m
    assert snap.where(F.col("o_totalprice") == -1.0).count() == m - 10


def test_delete_empty_affected_set_is_noop(spark, small_log):
    tl, m = small_log
    # predicate range beyond every file's stats -> pruning chooses none
    txlog_sql_dml(
        spark, tl, m,
        f"DELETE FROM t WHERE o_orderkey BETWEEN {m + 100} AND {m + 200}",
    )
    hist = tl.history()[-1]
    assert (hist["n_added"], hist["n_removed"]) == (0, 0)
    assert _read(spark, tl).count() == m


def test_merge_duplicate_source_keys_error(spark, small_log):
    """SQL standard: MERGE errors when multiple source rows match one
    target row — the join-based lowering would otherwise silently
    duplicate the target row in the rewrite."""
    tl, m = small_log
    spark.createDataFrame(
        [(3, 1.0), (3, 2.0)], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_dup")
    with pytest.raises(ValueError, match="cardinality"):
        txlog_sql_dml(
            spark, tl, m,
            "MERGE INTO t USING dml_src_dup AS s ON t.o_orderkey = s.o_orderkey"
            " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice",
        )


def test_merge_dup_check_sees_concurrent_insert_on_retry(spark, small_log):
    """Round-11 advice: the duplicate-source-key cardinality check must
    run INSIDE the optimistic retry loop against the snapshot at
    version=expected. Scenario: the dup key (40) is absent from the
    target, so the first pass legally routes it to NOT MATCHED — but a
    concurrent writer inserts key 40 before the merge commits, forcing
    a conflict-retry; the retry's snapshot now has a target row matched
    by two source rows and MUST raise. (The old one-shot pre-loop check
    silently wrote a duplicated target row here.)"""
    tl, m = small_log
    spark.createDataFrame(
        [(40, 1.0), (40, 2.0)], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_race")

    orig_commit = tl.commit
    state = {"raced": False}

    def racing_commit(op, **kw):
        if op == "merge" and not state["raced"]:
            state["raced"] = True
            other = TxLog(str(tl.root))
            dfc = spark.createDataFrame(
                [(40, 400.0, True)],
                "o_orderkey BIGINT, o_totalprice DOUBLE, flag BOOLEAN",
            )
            b = _with_bucket(dfc, m)
            other.commit(
                "append",
                add=other.stage_data_partitioned(b, "bucket", _bucket_stats(b)),
            )
        return orig_commit(op, **kw)

    tl.commit = racing_commit
    with pytest.raises(ValueError, match="cardinality"):
        txlog_sql_dml(
            spark, tl, m,
            "MERGE INTO t USING dml_src_race AS s"
            " ON t.o_orderkey = s.o_orderkey"
            " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
            " WHEN NOT MATCHED THEN INSERT *",
        )
    assert state["raced"], "the interposed concurrent commit never fired"
    # the concurrent row is intact; the merge wrote nothing
    rows = _read(spark, tl).where(F.col("o_orderkey") == 40).collect()
    assert len(rows) == 1 and rows[0]["o_totalprice"] == 400.0


def test_alter_table_add_column_sql_lowering(spark, small_log):
    """ALTER TABLE ... ADD COLUMN lowers to the metadata-only schema
    commit; the snapshot immediately reads with the new column."""
    tl, m = small_log
    op = txlog_sql_dml(
        spark, tl, m, "ALTER TABLE t ADD COLUMN note STRING"
    )
    assert op == "alter-add-column"
    snap = _read(spark, tl)
    assert snap.columns == ["o_orderkey", "o_totalprice", "flag", "note"]
    assert snap.where(F.col("note").isNotNull()).count() == 0
    # the evolved column is UPDATE-able like any other
    txlog_sql_dml(
        spark, tl, m,
        "UPDATE t SET note = 'hot' WHERE o_orderkey BETWEEN 1 AND 5",
    )
    assert _read(spark, tl).where(F.col("note") == "hot").count() == 5


def test_merge_insert_only_rewrites_nothing(spark, small_log):
    """Upsert-only-new: a MERGE with just WHEN NOT MATCHED THEN
    INSERT * must not rewrite (or remove) any target file — and must
    tolerate duplicate source keys for MATCHED targets, since no
    matched row is touched."""
    tl, m = small_log
    spark.createDataFrame(
        [(3, 0.5), (3, 0.7), (m + 1, 99.0)],
        "o_orderkey BIGINT, o_totalprice DOUBLE",
    ).createOrReplaceTempView("dml_src_insonly")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_insonly AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    hist = tl.history()[-1]
    assert hist["n_removed"] == 0
    assert hist["n_added"] == 1  # just the insert file
    snap = _read(spark, tl)
    assert snap.count() == m + 1
    assert snap.where(F.col("o_orderkey") == 3).count() == 1  # untouched


def test_merge_full_delete_cascade_commits_empty_table(spark, small_log):
    """Round-10 Hypothesis falsifying example, pinned deterministically:
    WHEN MATCHED THEN DELETE + WHEN NOT MATCHED BY SOURCE THEN DELETE
    removes every row — a legal statement whose result is an EMPTY
    table (previously crashed with 'txlog: empty table' on read)."""
    tl, m = small_log
    spark.createDataFrame(
        [(1,)], "o_orderkey BIGINT"
    ).createOrReplaceTempView("dml_src_one")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_one AS s ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN DELETE"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    snap = _read(spark, tl)
    assert snap.count() == 0
    # the empty snapshot keeps the table's logical schema
    assert snap.columns == ["o_orderkey", "o_totalprice", "flag"]
    # time travel below the delete still sees the data
    assert tl.read(spark, 0).count() == m
    # and the empty table accepts a follow-up insert MERGE
    spark.createDataFrame(
        [(7, 70.0)], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_reinsert")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_reinsert AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    rows = _read(spark, tl).collect()
    assert [(r["o_orderkey"], r["o_totalprice"], r["flag"]) for r in rows] == [
        (7, 70.0, None)
    ]


def test_unconditional_delete_commits_empty_version(spark, small_log):
    tl, m = small_log
    txlog_sql_dml(spark, tl, m, "DELETE FROM t")
    hist = tl.history()[-1]
    assert hist["op"] == "delete"
    assert (hist["n_added"], hist["n_removed"]) == (0, 16)
    assert _read(spark, tl).count() == 0
    assert tl.read(spark, 0).count() == m


def test_merge_duplicate_unmatched_source_keys_legal(spark, small_log):
    """SQL standard restricts the cardinality error to duplicated source
    rows that actually MATCH a target row; dup keys that all land in
    NOT MATCHED are a valid statement (each inserts)."""
    tl, m = small_log
    spark.createDataFrame(
        [(m + 5, 1.0), (m + 5, 2.0)],
        "o_orderkey BIGINT, o_totalprice DOUBLE",
    ).createOrReplaceTempView("dml_src_dup_unmatched")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_dup_unmatched AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    snap = _read(spark, tl)
    assert snap.count() == m + 2  # both dup source rows inserted
    assert snap.where(F.col("o_orderkey") == m + 5).count() == 2


def test_merge_inserts_null_key_rows(spark, small_log):
    """Two NULL-key source rows match nothing, so both insert. The
    staged insert file has rows but no key min/max in its footer: it
    must be committed with a stats-less add, not dropped as empty."""
    tl, m = small_log
    spark.createDataFrame(
        [(None, 1.0), (None, 2.0)],
        "o_orderkey BIGINT, o_totalprice DOUBLE",
    ).createOrReplaceTempView("dml_src_nullkey")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_nullkey AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    assert tl.history()[-1]["n_added"] == 1
    snap = _read(spark, tl)
    assert snap.count() == m + 2
    assert sorted(
        r["o_totalprice"] for r in snap.where(F.col("o_orderkey").isNull()).collect()
    ) == [1.0, 2.0]


def test_merge_multiple_insert_clauses_cascade(spark, small_log):
    """Several WHEN NOT MATCHED ... THEN INSERT * clauses: a source row
    inserts when the FIRST clause whose condition holds is an INSERT —
    for INSERT * this is the OR of the clause conditions (previously
    only the first clause's condition was applied)."""
    tl, m = small_log
    spark.createDataFrame(
        [(k, float(k)) for k in range(m + 1, m + 7)],
        "o_orderkey BIGINT, o_totalprice DOUBLE",
    ).createOrReplaceTempView("dml_src_multins")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_multins AS s"
        " ON t.o_orderkey = s.o_orderkey"
        f" WHEN NOT MATCHED AND s.o_orderkey % 2 = 0 THEN INSERT *"
        f" WHEN NOT MATCHED AND s.o_totalprice > {m + 4}.5 THEN INSERT *",
    )
    got = sorted(
        r["o_orderkey"]
        for r in _read(spark, tl).where(F.col("o_orderkey") > m).collect()
    )
    # evens: m+2, m+4, m+6; price > m+4.5: m+5, m+6
    assert got == [m + 2, m + 4, m + 5, m + 6]


def test_merge_matched_by_source_typo_rejected(spark, small_log):
    """'WHEN MATCHED BY SOURCE' is not a MERGE clause; it must error
    instead of silently parsing as plain WHEN MATCHED."""
    tl, m = small_log
    spark.range(1, 3).select(
        F.col("id").alias("o_orderkey")
    ).createOrReplaceTempView("dml_src_typo")
    with pytest.raises(ValueError, match="BY SOURCE"):
        txlog_sql_dml(
            spark, tl, m,
            "MERGE INTO t USING dml_src_typo AS s"
            " ON t.o_orderkey = s.o_orderkey"
            " WHEN MATCHED BY SOURCE THEN DELETE",
        )


def test_merge_empty_source_matched_only_is_noop(spark, small_log):
    """A MERGE whose source has zero rows (an empty CDC batch) matches
    nothing: without BY SOURCE clauses the statement commits a no-op
    (previously crashed on int(None) key bounds)."""
    tl, m = small_log
    spark.createDataFrame(
        [], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_empty")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_empty AS s ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    hist = tl.history()[-1]
    assert (hist["op"], hist["n_added"], hist["n_removed"]) == ("merge", 0, 0)
    assert _read(spark, tl).count() == m


def test_merge_empty_source_by_source_deletes_everything(spark, small_log):
    """With an empty source, every target row is NOT MATCHED BY SOURCE
    — a retention sync against an empty allowlist legally empties the
    table."""
    tl, m = small_log
    spark.createDataFrame(
        [], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_empty2")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_empty2 AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    snap = _read(spark, tl)
    assert snap.count() == 0
    assert snap.columns == ["o_orderkey", "o_totalprice", "flag"]


def test_merge_insert_only_casts_source_types_keeps_schema(spark, small_log):
    """Round-12 advice: an insert-only MERGE whose source columns have
    DIFFERENT types than the target must (a) cast the inserted rows to
    the target types and (b) publish NO schema action — previously the
    staged insert frame's source-typed schema leaked in via commit()'s
    stash fallback, and snapshot reads of pre-merge files then failed
    against the replaced logical schema."""
    tl, m = small_log
    pre_schema = tl.table_schema(spark)
    pre_version = tl.latest_version()
    # source: INT key, DECIMAL price — both differ from the target's
    # BIGINT / DOUBLE
    from decimal import Decimal

    spark.createDataFrame(
        [(m + 1, Decimal("7.00")), (m + 2, Decimal("8.00"))],
        "o_orderkey INT, o_totalprice DECIMAL(10,2)",
    ).createOrReplaceTempView("dml_src_typed")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_typed AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    # no schema action on the merge commit; logical schema unchanged
    assert "schema" not in tl._read_commit(tl.latest_version())
    assert tl.table_schema(spark) == pre_schema
    # pre-merge snapshot still reads cleanly under the logical schema
    assert tl.read(spark, pre_version).count() == m
    snap = _read(spark, tl)
    assert snap.count() == m + 2
    assert dict(snap.dtypes)["o_orderkey"] == "bigint"
    assert dict(snap.dtypes)["o_totalprice"] == "double"
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in snap.where(F.col("o_orderkey") > m).collect()
    }
    assert got == {m + 1: 7.0, m + 2: 8.0}


def test_merge_does_not_resurrect_dv_deleted_rows(spark, small_log):
    """Round-13 composition bug, pinned deterministically (found by
    test_txlog_properties' spec/DV/MERGE interleaving model): a
    copy-on-write rewrite that reads affected files RAW resurrects
    rows a prior merge-on-read DELETE hid — and lets MERGE match
    them. The affected-file read must fold the snapshot's deletion
    vectors: a DV-deleted target is NOT MATCHED (inserts under an
    INSERT clause; never updates)."""
    tl, m = small_log
    tl.delete_where_mor(spark, F.col("o_orderkey") <= 5)
    assert _read(spark, tl).count() == m - 5
    spark.createDataFrame(
        [(3, 99.0), (m + 1, 55.0)], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_dvres")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_dvres AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        " WHEN NOT MATCHED THEN INSERT *",
    )
    rows = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in _read(spark, tl).collect()
    }
    # 1,2,4,5 stay deleted; 3 re-enters as an INSERT (not-matched)
    assert sorted(k for k in rows if k <= 5) == [3]
    assert rows[3] == 99.0 and rows[m + 1] == 55.0
    assert len(rows) == m - 5 + 2
    # and a CoW DELETE over a DV'd file keeps the hidden rows hidden
    txlog_sql_dml(
        spark, tl, m, "DELETE FROM t WHERE o_orderkey BETWEEN 6 AND 7"
    )
    keys = sorted(r["o_orderkey"] for r in _read(spark, tl).collect())
    assert keys[:2] == [3, 8] and len(keys) == m - 5


def test_dml_on_column_mapped_table(spark, small_log):
    """UPDATE / MERGE / DELETE compose with ALTER RENAME COLUMN: the
    rewrite reads logical names from physical files, stages new files
    at PHYSICAL names, and publishes no schema action (the logical
    schema is unchanged) — so reads at every version resolve through
    the mapping and pre-rename snapshots keep their old layout."""
    tl, m = small_log
    txlog_sql_dml(
        spark, tl, m, "ALTER TABLE t RENAME COLUMN o_totalprice TO price"
    )                                                                # v1
    # UPDATE through the mapping
    txlog_sql_dml(
        spark, tl, m,
        "UPDATE t SET price = 0.0 WHERE o_orderkey BETWEEN 1 AND 5",
    )                                                                # v2
    snap = _read(spark, tl)
    assert "price" in snap.columns and "o_totalprice" not in snap.columns
    assert snap.where(F.col("price") == 0.0).count() == 5
    assert "schema" not in tl._read_commit(tl.latest_version())
    # MERGE through the mapping (update + insert arms)
    spark.createDataFrame(
        [(7, 77.0, None), (m + 1, 99.0, True)],
        "o_orderkey BIGINT, price DOUBLE, flag BOOLEAN",
    ).createOrReplaceTempView("dml_src_mapped")
    txlog_sql_dml(
        spark, tl, m,
        "MERGE INTO t USING dml_src_mapped AS s"
        " ON t.o_orderkey = s.o_orderkey"
        " WHEN MATCHED THEN UPDATE SET price = s.price"
        " WHEN NOT MATCHED THEN INSERT *",
    )                                                                # v3
    snap = _read(spark, tl)
    rows = {r["o_orderkey"]: r["price"] for r in snap.collect()}
    assert rows[7] == 77.0 and rows[m + 1] == 99.0
    assert len(rows) == m + 1
    assert "schema" not in tl._read_commit(tl.latest_version())
    # DELETE through the mapping
    txlog_sql_dml(spark, tl, m, "DELETE FROM t WHERE price = 0.0")   # v4
    assert _read(spark, tl).count() == m + 1 - 5
    # time travel: v0 keeps the pre-rename layout and original data
    v0 = tl.read(spark, 0)
    assert "o_totalprice" in v0.columns
    assert v0.count() == m
    # v2 snapshot still shows the five zeroed rows under the new name
    assert tl.read(spark, 2).where(F.col("price") == 0.0).count() == 5


def test_dml_enforces_check_constraints(spark, small_log):
    """UPDATE and MERGE route through commit_checked: a statement whose
    rewritten/inserted rows violate a table CHECK constraint refuses
    atomically (table untouched, staged files orphaned); a conforming
    statement passes. DELETE skips the scan (a subset of valid rows
    holds by induction)."""
    from hive_clone_spark.sources.txlog import ConstraintViolationError

    tl, m = small_log
    tl.set_constraints({"price_nonneg": "o_totalprice >= 0"})
    with pytest.raises(ConstraintViolationError):
        txlog_sql_dml(
            spark, tl, m,
            "UPDATE t SET o_totalprice = -1.0 WHERE o_orderkey BETWEEN 1 AND 5",
        )
    snap = _read(spark, tl)
    assert snap.where(F.col("o_totalprice") < 0).count() == 0
    assert snap.count() == m  # untouched
    # violating MERGE insert refused too
    spark.createDataFrame(
        [(m + 1, -5.0)], "o_orderkey BIGINT, o_totalprice DOUBLE"
    ).createOrReplaceTempView("dml_src_badins")
    with pytest.raises(ConstraintViolationError):
        txlog_sql_dml(
            spark, tl, m,
            "MERGE INTO t USING dml_src_badins AS s"
            " ON t.o_orderkey = s.o_orderkey"
            " WHEN NOT MATCHED THEN INSERT *",
        )
    assert _read(spark, tl).count() == m
    # conforming statements pass
    txlog_sql_dml(
        spark, tl, m,
        "UPDATE t SET o_totalprice = 1.0 WHERE o_orderkey BETWEEN 1 AND 5",
    )
    assert _read(spark, tl).where(F.col("o_totalprice") == 1.0).count() == 5
    txlog_sql_dml(spark, tl, m, "DELETE FROM t WHERE o_orderkey = 1")
    assert _read(spark, tl).count() == m - 1


def test_sql_maintenance_statements(spark, small_log):
    """The Delta-style maintenance surface lowers through the same
    statement path as DML: ADD CONSTRAINT validates existing data once
    (NULL predicate passes — CHECK is violated only when FALSE) and
    arms commit_checked for later DML; DROP CONSTRAINT disarms it;
    REORG APPLY (PURGE) folds DVs into rewrites; VACUUM RETAIN n
    VERSIONS bounds time travel."""
    from hive_clone_spark.sources.txlog import ConstraintViolationError

    tl, m = small_log
    # existing data violates (price 10..300, so > 50 fails for keys<=5)
    with pytest.raises(ConstraintViolationError):
        txlog_sql_dml(
            spark, tl, m,
            "ALTER TABLE t ADD CONSTRAINT price_big CHECK (o_totalprice > 50)",
        )
    assert tl.constraints() == {}  # refused: nothing published
    # NULL-valued flag rows PASS a flag-referencing CHECK
    txlog_sql_dml(
        spark, tl, m,
        "ALTER TABLE t ADD CONSTRAINT flag_ok CHECK (flag IN (TRUE, FALSE))",
    )
    assert "flag_ok" in tl.constraints()
    # an armed constraint gates later DML through commit_checked
    txlog_sql_dml(
        spark, tl, m,
        "ALTER TABLE t ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)",
    )
    with pytest.raises(ConstraintViolationError):
        txlog_sql_dml(
            spark, tl, m,
            "UPDATE t SET o_totalprice = -1.0 WHERE o_orderkey BETWEEN 1 AND 2",
        )
    assert _read(spark, tl).where(F.col("o_totalprice") < 0).count() == 0
    txlog_sql_dml(spark, tl, m, "ALTER TABLE t DROP CONSTRAINT flag_ok")
    txlog_sql_dml(spark, tl, m, "ALTER TABLE t DROP CONSTRAINT price_pos")
    # dropping an unknown name errors (Delta does too) instead of
    # silently succeeding while the constraint stays armed elsewhere
    with pytest.raises(ValueError, match="no such constraint"):
        txlog_sql_dml(spark, tl, m, "ALTER TABLE t DROP CONSTRAINT typo_name")
    assert tl.constraints() == {}
    # MoR delete then SQL purge: bindings fold away, rows unchanged
    tl.delete_where_mor(spark, F.col("o_orderkey") % 5 == 0)
    n_after_mor = _read(spark, tl).count()
    assert tl.dvs() != {}
    assert txlog_sql_dml(spark, tl, m, "REORG TABLE t APPLY (PURGE)") == "reorg-purge"
    assert tl.dvs() == {}
    assert _read(spark, tl).count() == n_after_mor
    # vacuum through SQL: old versions become unreadable
    v_latest = tl.latest_version()
    assert txlog_sql_dml(spark, tl, m, "VACUUM t RETAIN 2 VERSIONS") == "vacuum"
    with pytest.raises(ValueError):
        tl.read(spark, 0)
    assert _read(spark, tl).count() == n_after_mor
    assert tl.latest_version() == v_latest  # vacuum is not a commit
