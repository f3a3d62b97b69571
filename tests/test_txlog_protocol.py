"""The commit protocol of the log-structured table format, rule by rule.

  * every read-modify-write path retries a lost optimistic race through
    ``TxLog.transact``: it keeps the racing commit and applies its own
    effect once; ``commit_idempotent`` lands a txn once even when
    another handle commits the same txn mid-attempt;
  * a checkpoint is durable (fsync'd) before ``vacuum`` deletes the
    commits below it, since it may then be the only copy of the fold;
  * a published name is durable: ``_publish`` fsyncs the chain
    directory after the link;
  * staging that raises leaves no ``_stage-*`` dir behind;
  * source guards: ``transact`` is the only retry loop and the only
    ``except CommitConflictError`` across the ``TxLog`` class and
    ``sqlapi.txlog_sql_dml``, ``TxLog._apply`` the only fold of
    add/remove/dv actions, and no reader but ``TxLog._replay`` takes a
    fold apart by position; ``txn_applied`` opens no commit file.
    Registered entry bodies are not covered.
"""

from __future__ import annotations

import ast
import inspect
import os
import pathlib

import pyspark.sql.functions as F
import pytest

from hive_clone_spark import sqlapi
from hive_clone_spark.sources import txlog
from hive_clone_spark.sources.txlog import (
    CommitConflictError,
    TxLog,
    _bucket_stats,
    _with_bucket,
)
from hive_clone_spark.sqlapi import txlog_sql_dml

_M = 30
_RACER = 100  # the key the racing append adds


def _rows(spark, keys):
    return spark.createDataFrame(
        [(k, k * 10.0, k % 2 == 0) for k in keys],
        "o_orderkey BIGINT, o_totalprice DOUBLE, flag BOOLEAN",
    )


def _stage(tl, df):
    b = _with_bucket(df, _M)
    return tl.stage_data_partitioned(b, "bucket", _bucket_stats(b))


def _setup_dv(spark, tl):
    tl.delete_where_mor(spark, F.col("o_orderkey") <= 5)


def _setup_constraint(spark, tl):
    tl.set_constraints({"pos": "o_totalprice > 0"})


# path -> (setup, action, expected op, check(snapshot rows, log))
_RMW_PATHS = {
    "commit_idempotent": (
        None,
        lambda spark, tl: tl.commit_idempotent(
            "batch-0", "stream-append", add=_stage(tl, _rows(spark, [_M + 1]))
        ),
        "stream-append",
        lambda rows, tl: tl.txn_applied("batch-0")
        and sorted(r["o_orderkey"] for r in rows)
        == list(range(1, _M + 2)) + [_RACER],
    ),
    "alter_drop_column": (
        None,
        lambda spark, tl: tl.alter_drop_column(spark, "flag"),
        "alter-drop-column",
        lambda rows, tl: set(rows[0].asDict()) == {"o_orderkey", "o_totalprice"},
    ),
    "delete_where_mor": (
        None,
        lambda spark, tl: tl.delete_where_mor(spark, F.col("o_orderkey") <= 5),
        "delete-dv",
        lambda rows, tl: sorted(r["o_orderkey"] for r in rows)
        == list(range(6, _M + 1)) + [_RACER],
    ),
    "reorg_purge": (
        _setup_dv,
        lambda spark, tl: tl.reorg_purge(spark),
        "reorg-purge",
        lambda rows, tl: tl.dvs() == {}
        and sorted(r["o_orderkey"] for r in rows)
        == list(range(6, _M + 1)) + [_RACER],
    ),
    "sql_delete": (
        None,
        lambda spark, tl: txlog_sql_dml(
            spark, tl, _M, "DELETE FROM t WHERE o_orderkey <= 5"
        ),
        "delete",
        lambda rows, tl: sorted(r["o_orderkey"] for r in rows)
        == list(range(6, _M + 1)) + [_RACER],
    ),
    "sql_update": (
        None,
        lambda spark, tl: txlog_sql_dml(
            spark, tl, _M,
            "UPDATE t SET o_totalprice = o_totalprice + 1"
            " WHERE o_orderkey <= 5",
        ),
        "update",
        lambda rows, tl: {r["o_orderkey"]: r["o_totalprice"] for r in rows}
        == {
            **{k: k * 10.0 for k in range(1, _M + 1)},
            **{k: k * 10.0 + 1 for k in range(1, 6)},
            _RACER: _RACER * 10.0,
        },
    ),
    "sql_add_constraint": (
        None,
        lambda spark, tl: txlog_sql_dml(
            spark, tl, _M, "ALTER TABLE t ADD CONSTRAINT pos CHECK (o_totalprice > 0)"
        ),
        "set-constraints",
        lambda rows, tl: tl.constraints() == {"pos": "o_totalprice > 0"},
    ),
    "sql_drop_constraint": (
        _setup_constraint,
        lambda spark, tl: txlog_sql_dml(
            spark, tl, _M, "ALTER TABLE t DROP CONSTRAINT pos"
        ),
        "set-constraints",
        lambda rows, tl: tl.constraints() == {},
    ),
}


@pytest.mark.parametrize("path", sorted(_RMW_PATHS))
def test_rmw_path_retries_a_lost_race_once(spark, tmp_path, path):
    """A second handle commits an append between the attempt's read and
    its commit: the attempt conflicts, ``transact`` re-reads, and the
    retry commits once on top of the append, which stays."""
    setup, action, op, check = _RMW_PATHS[path]
    tl = TxLog(str(tmp_path / "log")).create()
    tl.commit("append", add=_stage(tl, _rows(spark, range(1, _M + 1))))
    if setup is not None:
        setup(spark, tl)
    base = tl.latest_version()
    other = TxLog(str(tl.root))
    racing = _stage(other, _rows(spark, [_RACER]))

    real_commit, outcomes = tl.commit, []

    def racing_commit(*args, **kwargs):
        if not outcomes:
            other.commit("append", add=racing, schema=None)
        try:
            v = real_commit(*args, **kwargs)
        except CommitConflictError:
            outcomes.append("conflict")
            raise
        outcomes.append("commit")
        return v

    tl.commit = racing_commit
    try:
        action(spark, tl)
    finally:
        tl.commit = real_commit
    assert outcomes == ["conflict", "commit"]
    assert tl.latest_version() == base + 2
    assert [h["op"] for h in tl.history()[-2:]] == ["append", op]
    rows = tl.read(spark).collect()
    assert _RACER in {r["o_orderkey"] for r in rows}
    assert check(rows, tl)


def test_commit_idempotent_same_txn_race_lands_once(tmp_path, monkeypatch):
    """A second handle commits the SAME txn between this handle's check
    and its commit: the commit conflicts, the retry's check sees the
    txn, and the txn lands exactly once."""
    tl = TxLog(str(tmp_path / "log")).create()
    other = TxLog(str(tl.root))
    real_check, raced = TxLog.txn_applied, []

    def check_then_race(self, txn):
        applied = real_check(self, txn)
        if self is tl and not raced:
            raced.append(
                other.commit_idempotent(txn, "append", add=[{"file": "data/b.parquet"}])
            )
        return applied

    monkeypatch.setattr(TxLog, "txn_applied", check_then_race)
    assert tl.commit_idempotent("batch-9", "append", add=[{"file": "data/a.parquet"}]) is None
    assert raced == [0]
    assert [tl._read_commit(v).get("txn") for v in tl.versions()] == ["batch-9"]
    assert tl.active_files() == ["data/b.parquet"]


def test_checkpoint_is_fsynced_before_vacuum_unlinks_commits(
    spark, tmp_path, monkeypatch
):
    """vacuum() pins a checkpoint at its cutoff and then deletes every
    commit below it, so the checkpoint must be on disk first: its bytes
    fsync'd (the published file shares the fsync'd temp file's inode)
    before the first commit is unlinked."""
    tl = TxLog(str(tmp_path / "log")).create()
    for k in range(3):
        tl.append(spark.range(k, k + 1).withColumnRenamed("id", "k"), n_files=1)
    events = []
    real_fsync, real_unlink = os.fsync, pathlib.Path.unlink

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def unlink(self, *args, **kwargs):
        events.append(("unlink", self.name))
        return real_unlink(self, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(pathlib.Path, "unlink", unlink)
    assert tl.vacuum(1)["n_commits_removed"] == 2
    ckpt = tl.log_dir / "00000002.checkpoint.json"
    first_unlink = events.index(("unlink", "00000000.json"))
    assert ("fsync", ckpt.stat().st_ino) in events[:first_unlink]


def test_checkpoint_already_in_place_is_kept(spark, tmp_path):
    """A checkpoint is a pure function of its version: publishing one
    that already exists succeeds and leaves it as it was."""
    tl = TxLog(str(tmp_path / "log")).create()
    for k in range(2):
        tl.append(spark.range(k, k + 1).withColumnRenamed("id", "k"), n_files=1)
    tl._write_checkpoint(1)
    ckpt = tl.log_dir / "00000001.checkpoint.json"
    before = ckpt.read_text()
    tl._write_checkpoint(1)
    assert ckpt.read_text() == before
    assert TxLog(str(tl.root)).active_files(1) == tl.active_files(1)


def _protocol_functions():
    """(name, node) of every TxLog method, of txlog_sql_dml and of
    shallow_clone."""
    tree = ast.parse(inspect.getsource(txlog))
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "TxLog"
    )
    out = [(f"TxLog.{n.name}", n) for n in cls.body if isinstance(n, ast.FunctionDef)]
    helpers = [
        (fn.__name__, ast.parse(inspect.getsource(fn)).body[0])
        for fn in (sqlapi.txlog_sql_dml, txlog.shallow_clone)
    ]
    return out + helpers


def test_transact_is_the_only_retry_driver():
    loops, catches = [], []
    for name, fn in _protocol_functions():
        for node in ast.walk(fn):
            if isinstance(node, ast.While):
                loops.append(name)
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                if "CommitConflictError" in ast.unparse(node.type):
                    catches.append(name)
    assert loops == ["TxLog.transact"]
    assert catches == ["TxLog.transact"]


def _mutates(body) -> bool:
    for node in (n for stmt in body for n in ast.walk(stmt)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("add", "discard", "pop", "update"):
                return True
        if isinstance(node, (ast.Assign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Subscript) for t in targets):
                return True
    return False


def test_apply_is_the_only_action_fold():
    """A loop over a commit's add, remove or dv actions that mutates
    state is a fold; only TxLog._apply may hold one."""
    folds = []
    for name, fn in _protocol_functions():
        for node in ast.walk(fn):
            if not isinstance(node, ast.For):
                continue
            over_actions = any(
                isinstance(c, ast.Constant) and c.value in ("add", "remove", "dv")
                for c in ast.walk(node.iter)
            )
            if over_actions and _mutates(node.body):
                folds.append(name)
    assert folds == ["TxLog._apply"] * 3


def test_publish_fsyncs_the_chain_dir_after_the_link(tmp_path, monkeypatch):
    """A commit's NAME is durable only once its directory is fsync'd:
    the hard link that publishes it must be followed by an fsync of an
    fd on the chain directory before ``commit`` returns."""
    tl = TxLog(str(tmp_path / "log")).create()
    events = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def link(src, dst, *args, **kwargs):
        events.append(("link", pathlib.Path(dst).name))
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    assert tl.commit("append") == 0
    linked = events.index(("link", "00000000.json"))
    assert ("fsync", tl.log_dir.stat().st_ino) in events[linked:]


@pytest.mark.parametrize(
    "stage",
    [
        lambda tl, df: tl.stage_data(df, n_files=2),
        lambda tl, df: tl.stage_data_partitioned(df, "bucket", stats_col="o_orderkey"),
        lambda tl, df: txlog._stage_sorted_buckets(tl, df, "bucket", "o_orderkey"),
    ],
    ids=["stage_data", "stage_data_partitioned", "_stage_sorted_buckets"],
)
def test_failed_stage_leaves_no_stage_dir(spark, tmp_path, monkeypatch, stage):
    """Every staging path goes through one stage-and-land step, which
    removes its ``_stage-*`` dir even when staging raises (here: the
    move into ``data/`` fails, as on a full disk). ``vacuum`` never
    looks there, so a leaked stage dir would stay forever."""
    tl = TxLog(str(tmp_path / "log")).create()
    df = spark.range(8).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 2).alias("bucket")
    )

    def replace(src, dst):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="No space left"):
        stage(tl, df)
    assert list(tl.root.glob("_stage-*")) == []
    assert list(tl.data_dir.iterdir()) == []


def _fold_call(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("snapshot", "_replay")
    )


def test_snapshot_is_the_only_fold_reader():
    """Readers take a fold's fields by name from ``TxLog.snapshot``: no
    method but ``_replay``, the tuple view entry bodies unpack, calls
    ``_replay``, subscripts a fold or unpacks one into a tuple. And
    ``txn_applied`` is a lookup in the fold: its one call is
    ``snapshot``, so it opens no commit file."""
    by_position = []
    for name, fn in _protocol_functions():
        if name == "TxLog._replay":
            continue
        for node in ast.walk(fn):
            if _fold_call(node) and node.func.attr == "_replay":
                by_position.append(name)
            if isinstance(node, ast.Subscript) and _fold_call(node.value):
                by_position.append(name)
            if isinstance(node, ast.Assign) and _fold_call(node.value):
                if isinstance(node.targets[0], ast.Tuple):
                    by_position.append(name)
    assert by_position == []
    txn_applied = dict(_protocol_functions())["TxLog.txn_applied"]
    calls = [n for n in ast.walk(txn_applied) if isinstance(n, ast.Call)]
    assert [ast.unparse(n.func) for n in calls] == ["self.snapshot"]
