"""Unit tests for the JSON-commit-log table format (sources/txlog.py):
optimistic-concurrency conflicts, checkpointed replay, remove-action
visibility, and staged-file isolation."""

from __future__ import annotations

import json

import pytest

from hive_clone_spark.sources.txlog import (
    _CHECKPOINT_EVERY,
    CommitConflictError,
    TxLog,
)


def _mk(tmp_path, name="t"):
    return TxLog(str(tmp_path / name)).create()


def test_append_and_read_back(spark, tmp_path):
    tl = _mk(tmp_path)
    df = spark.range(10).withColumnRenamed("id", "k")
    tl.append(df, n_files=2)
    assert tl.latest_version() == 0
    assert len(tl.active_files()) == 2
    assert tl.read(spark).count() == 10


def test_concurrent_append_conflict(spark, tmp_path):
    """Two writers race for the same version: exactly one wins, the
    loser gets CommitConflictError and succeeds on retry — the
    optimistic-concurrency contract."""
    tl_a = _mk(tmp_path)
    tl_b = TxLog(tl_a.root)  # second writer handle on the same table
    df = spark.range(5).withColumnRenamed("id", "k")
    base = tl_a.latest_version()  # both writers read the same version
    adds_a = tl_a.stage_data(df, n_files=1)
    adds_b = tl_b.stage_data(df, n_files=1)
    assert tl_a.commit("append", add=adds_a, expected_version=base) == 0
    with pytest.raises(CommitConflictError):
        tl_b.commit("append", add=adds_b, expected_version=base)
    # retry after re-reading the log: next slot, clean success
    v = tl_b.commit("append", add=adds_b, expected_version=tl_b.latest_version())
    assert v == 1
    assert tl_a.read(spark).count() == 10


def test_exclusive_create_guards_same_slot(spark, tmp_path, monkeypatch):
    """Even when the expected_version check passes (both writers read
    the log at the same instant), publishing the commit file itself
    rejects the second writer of a slot — the true race window."""
    tl = _mk(tmp_path)
    df = spark.range(3).withColumnRenamed("id", "k")
    tl.append(df, n_files=1)
    adds = tl.stage_data(df, n_files=1)
    # freeze this writer's view of the log at version 0, then let the
    # "other writer" land commit 1 inside the race window
    monkeypatch.setattr(tl, "latest_version", lambda: 0)
    (tl.log_dir / tl._commit_name(1)).write_text(
        json.dumps({"version": 1, "op": "append", "add": [], "remove": []})
    )
    with pytest.raises(CommitConflictError):
        tl.commit("append", add=adds, expected_version=0)


def test_commit_interrupted_mid_write_is_never_visible(spark, tmp_path, monkeypatch):
    """A writer that dies while serializing commit 1 leaves no torn
    ``00000001.json``: readers still see version 0, and the next writer
    commits version 1 on a clean log."""
    tl = _mk(tmp_path)
    df = spark.range(3).withColumnRenamed("id", "k")
    tl.append(df, n_files=1)
    adds = tl.stage_data(df, n_files=1)

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("writer died mid-write")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError):
            tl.commit("append", add=adds)
    assert tl.latest_version() == 0
    assert sorted(p.name for p in tl.log_dir.glob("*.json")) == [tl._commit_name(0)]
    assert tl.read(spark).count() == 3
    assert tl.commit("append", add=adds) == 1
    assert tl._read_commit(1)["add"] == adds
    assert tl.read(spark).count() == 6


def test_replay_memo_hands_out_private_copies(tmp_path):
    """Mutating what _replay returns, down to a file's stats dict and the
    schema, never reaches the memo or a later caller."""
    tl = _mk(tmp_path)
    schema = {"type": "struct", "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    tl.commit("append", add=[{"file": "data/a.parquet", "stats": {"min": 1, "max": 5}}],
              schema=schema, meta={"ids": {"k": 1}})
    for _ in range(2):  # the call that fills the memo, then one served by it
        files, stats, _, _, got_schema, meta = tl._replay(0)
        stats["data/a.parquet"]["max"] = 99
        got_schema["fields"].append({"name": "x"})
        meta["ids"]["k"] = 7
        files.add("data/b.parquet")
    files, stats, _, _, got_schema, meta = tl._replay(0)
    assert files == {"data/a.parquet"}
    assert stats == {"data/a.parquet": {"min": 1, "max": 5}}
    assert got_schema == schema and meta == {"ids": {"k": 1}}


def test_time_travel_and_remove_visibility(spark, tmp_path):
    tl = _mk(tmp_path)
    a = spark.range(0, 4).withColumnRenamed("id", "k")
    b = spark.range(4, 10).withColumnRenamed("id", "k")
    tl.append(a, n_files=1)  # v0
    tl.append(b, n_files=1)  # v1
    tl.overwrite(spark.range(100, 103).withColumnRenamed("id", "k"), n_files=1)  # v2
    assert tl.read(spark, 0).count() == 4
    assert tl.read(spark, 1).count() == 10
    assert tl.read(spark, 2).count() == 3
    assert tl.read(spark).count() == 3  # latest
    # removed files are out of the active set but still on disk (no
    # vacuum), which is precisely what keeps v0/v1 readable
    assert len(tl.active_files(2)) == 1
    assert len(list(tl.data_dir.glob("*.parquet"))) == 3


def test_checkpoint_written_and_used(spark, tmp_path):
    tl = _mk(tmp_path)
    df = spark.range(2).withColumnRenamed("id", "k")
    for _ in range(_CHECKPOINT_EVERY + 2):
        tl.append(df, n_files=1)
    ckpt = tl.log_dir / f"{_CHECKPOINT_EVERY - 1:08d}.checkpoint.json"
    assert ckpt.exists()
    # replay from the checkpoint must agree with a full fold
    expect = set()
    for v in range(tl.latest_version() + 1):
        c = tl._read_commit(v)
        expect.update(x["file"] for x in c["add"])
    assert set(tl.active_files()) == expect
    # and the checkpoint is genuinely load-bearing: corrupt a
    # pre-checkpoint commit body; replay at latest must not read it
    (tl.log_dir / tl._commit_name(0)).write_text("NOT JSON")
    assert set(tl.active_files()) == expect
    with pytest.raises(json.JSONDecodeError):
        tl.active_files(0)  # pre-checkpoint versions do re-read it


def test_history_shape(spark, tmp_path):
    tl = _mk(tmp_path)
    df = spark.range(6).withColumnRenamed("id", "k")
    tl.append(df, n_files=3)
    tl.overwrite(df, n_files=1, op="compact")
    hist = tl.history()
    assert [h["op"] for h in hist] == ["append", "compact"]
    assert hist[1]["n_removed"] == 3 and hist[1]["n_added"] == 1


def test_partitioned_stage_and_file_skipping(spark, tmp_path):
    """One file per partition value, stats attached to adds, and
    scan_files prunes strictly by [min, max] intersection."""
    tl = _mk(tmp_path)
    df = spark.range(100).withColumnRenamed("id", "k")
    df = df.withColumn("bucket", (df.k / 25).cast("int"))
    stats = {b: {"k": [b * 25, b * 25 + 24]} for b in range(4)}
    adds = tl.stage_data_partitioned(df, "bucket", stats)
    assert len(adds) == 4 and all("stats" in a for a in adds)
    tl.commit("append", add=adds)
    allf, chosen = tl.scan_files("k", 30, 60)
    assert len(allf) == 4 and len(chosen) == 2  # buckets [25-49],[50-74]
    total = 0
    for f in chosen:
        total += spark.read.parquet(str(tl.root / f)).where(
            "k between 30 and 60"
        ).count()
    assert total == 31
    # a column without stats scans everything (conservative)
    allf2, chosen2 = tl.scan_files("other_col", 0, 1)
    assert len(chosen2) == 4


def test_vacuum_retention(spark, tmp_path):
    """vacuum(retain_versions=3): newest 3 versions stay fully
    readable, older versions error cleanly, and their exclusively-
    referenced data files are physically deleted."""
    tl = _mk(tmp_path)
    for i in range(5):
        tl.overwrite(
            spark.range(10 * i, 10 * i + 5).withColumnRenamed("id", "k"),
            n_files=1,
        )
    tl.append(spark.range(100, 102).withColumnRenamed("id", "k"), n_files=1)
    assert tl.versions() == [0, 1, 2, 3, 4, 5]
    assert len(list(tl.data_dir.glob("*.parquet"))) == 6
    out = tl.vacuum(retain_versions=3)
    assert out["cutoff"] == 3 and out["n_commits_removed"] == 3
    # versions 3..5 reference files from overwrites 3,4 + the append
    assert out["n_data_files_removed"] == 3
    assert tl.versions() == [3, 4, 5]
    assert tl.read(spark, 3).count() == 5
    assert tl.read(spark, 5).count() == 7  # v4 overwrite + append
    with pytest.raises(ValueError, match="no commit"):
        tl.read(spark, 2)
    # the table keeps working after vacuum
    tl.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    assert tl.latest_version() == 6 and tl.read(spark).count() == 10


def test_scan_files_after_vacuum(spark, tmp_path):
    """ADVICE r7: scan_files must replay stats from the checkpoint
    floor, not commit 0 — after vacuum() deletes old commit JSONs, a
    0-based replay crashes and loses vacuumed stats. Stats now ride in
    checkpoints, so skipping keeps working below-history."""
    tl = _mk(tmp_path)
    df = spark.range(100).withColumnRenamed("id", "k")
    # enough commits to cross a checkpoint boundary, each with stats
    for i in range(_CHECKPOINT_EVERY + 2):
        adds = tl.stage_data(
            df.where(f"k >= {i * 10} and k < {i * 10 + 10}"), n_files=1
        )
        adds[0]["stats"] = {"k": [i * 10, i * 10 + 9]}
        tl.commit("append", add=adds)
    tl.vacuum(retain_versions=2)
    # commits below the cutoff are gone; scan_files must not read them
    all_files, chosen = tl.scan_files("k", 25, 34)
    assert len(all_files) == _CHECKPOINT_EVERY + 2
    # range [25, 34] intersects exactly the [20-29] and [30-39] files
    assert len(chosen) == 2


def test_checkpoint_carries_stats(spark, tmp_path):
    tl = _mk(tmp_path)
    df = spark.range(10).withColumnRenamed("id", "k")
    for i in range(_CHECKPOINT_EVERY):
        adds = tl.stage_data(df, n_files=1)
        adds[0]["stats"] = {"k": [i, i]}
        tl.commit("append", add=adds)
    ckpts = list(tl.log_dir.glob("*.checkpoint.json"))
    assert ckpts
    d = json.loads(ckpts[0].read_text())
    assert d["stats"] and all("k" in s for s in d["stats"].values())


def test_removed_file_stats_dropped_from_replay(spark, tmp_path):
    """A remove action must also retire the file's stats — otherwise a
    rewritten file's stale range would keep steering scan_files."""
    tl = _mk(tmp_path)
    df = spark.range(10).withColumnRenamed("id", "k")
    adds = tl.stage_data(df, n_files=1)
    adds[0]["stats"] = {"k": [0, 9]}
    tl.commit("append", add=adds)
    new_adds = tl.stage_data(df, n_files=1)
    new_adds[0]["stats"] = {"k": [100, 109]}
    tl.commit("rewrite", add=new_adds, remove=[adds[0]["file"]])
    _, chosen = tl.scan_files("k", 0, 9)
    assert chosen == []  # old range gone with the old file


def test_row_level_delete_conflict_retry(spark, tmp_path):
    """The q125 protocol under an actual concurrent append: writer A
    stages its copy-on-write delete against version 0, writer B lands
    an append first, A's commit(expected_version=0) conflicts, and A's
    retry (re-reading the log) succeeds with the append preserved."""
    from pyspark.sql import functions as F

    tl_a = _mk(tmp_path)
    tl_b = TxLog(tl_a.root)
    base = spark.range(100).select(F.col("id").alias("k"))
    adds = tl_a.stage_data(base, n_files=2)
    tl_a.commit("append", add=adds)

    expected = tl_a.latest_version()
    affected = tl_a.active_files(expected)
    survivors = spark.read.parquet(
        *[str(tl_a.root / f) for f in affected]
    ).where("k % 10 != 0")
    staged = tl_a.stage_data(survivors, n_files=2)

    # concurrent append sneaks in between A's read and A's commit
    extra = spark.range(100, 110).select(F.col("id").alias("k"))
    tl_b.commit("append", add=tl_b.stage_data(extra, n_files=1))

    with pytest.raises(CommitConflictError):
        tl_a.commit(
            "delete", add=staged, remove=affected, expected_version=expected
        )
    # retry: re-read, revalidate (the append touched disjoint files —
    # the staged rewrite is still valid), commit against the new head
    v = tl_a.commit(
        "delete",
        add=staged,
        remove=affected,
        expected_version=tl_a.latest_version(),
    )
    assert v == 2
    final = tl_a.read(spark)
    assert final.count() == 90 + 10  # 90 survivors + concurrent append
    assert final.where("k % 10 = 0 and k < 100").count() == 0


def test_commit_idempotent_drops_redelivery(spark, tmp_path):
    """Same txn id twice -> second commit dropped, state unchanged;
    a new txn id still lands."""
    tl = _mk(tmp_path)
    df = spark.range(10).withColumnRenamed("id", "k")
    v = tl.commit_idempotent("app-0", "stream-append", add=tl.stage_data(df, n_files=1))
    assert v == 0 and tl.read(spark).count() == 10
    orphan = tl.stage_data(df, n_files=1)  # redelivery stages again...
    assert tl.commit_idempotent("app-0", "stream-append", add=orphan) is None
    assert tl.latest_version() == 0 and tl.read(spark).count() == 10
    assert tl.txn_applied("app-0") and not tl.txn_applied("app-1")
    v2 = tl.commit_idempotent("app-1", "stream-append", add=tl.stage_data(df, n_files=1))
    assert v2 == 1 and tl.read(spark).count() == 20


# ---------------------------------------------------------------------------
# property: the folded snapshot at EVERY version equals a plain-python
# model fold, across random add/remove sequences that cross checkpoint
# boundaries, including after vacuum
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(["append", "rewrite", "prune"]),
            st.integers(1, 3),
        ),
        min_size=1,
        max_size=_CHECKPOINT_EVERY * 2 + 3,
    ),
    retain=st.integers(1, 6),
)
def test_property_replay_matches_model(steps, retain):
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        tl = TxLog(td + "/t").create()
        model: list[set] = []  # active set per version
        counter = 0
        active: set = set()
        for kind, n in steps:
            adds, removes = [], []
            if kind == "append":
                for _ in range(n):
                    counter += 1
                    adds.append({"file": f"data/f{counter}.parquet",
                                 "stats": {"k": [counter, counter]}})
            elif kind == "rewrite":
                removes = sorted(active)[:n]
                counter += 1
                adds = [{"file": f"data/f{counter}.parquet"}]
            else:  # prune: pure removes
                removes = sorted(active)[-n:]
            tl.commit(kind, add=adds, remove=removes)
            active = (active | {a["file"] for a in adds}) - set(removes)
            model.append(set(active))
        for v, expect in enumerate(model):
            assert set(tl.active_files(v)) == expect, v
        # vacuum, then retained versions must still match the model
        tl.vacuum(retain_versions=retain)
        latest = tl.latest_version()
        cutoff = max(0, latest - retain + 1)
        for v in range(cutoff, latest + 1):
            assert set(tl.active_files(v)) == model[v], v
        # stats survive vacuum through the pinned checkpoint
        _, stats, _, _, _, _ = tl._replay(latest)
        for f in tl.active_files(latest):
            num = int(f[6:-8].lstrip("f") or 0)
            if f.startswith("data/f") and "stats" in str(stats.get(f, "")):
                assert stats[f]["k"] == [num, num]


def test_change_feed_classification(spark, tmp_path):
    """insert / delete / update pre+post classified per commit;
    copy-on-write passengers (unchanged rows) cancel out."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    base = spark.range(1, 7).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tl.append(base, n_files=1)  # v0: k=1..6
    # v1: copy-on-write rewrite of the whole file — delete k=2,
    # update k=3 (v 30 -> 31), keep the rest byte-identical
    rewritten = (
        tl.read(spark)
        .where(F.col("k") != 2)
        .withColumn(
            "v", F.when(F.col("k") == 3, F.lit(31)).otherwise(F.col("v"))
        )
    )
    tl.commit(
        "rewrite",
        add=tl.stage_data(rewritten, n_files=1),
        remove=tl.active_files(0),
    )
    # v2: pure append of k=7
    tl.append(
        spark.createDataFrame([(7, 70)], "k long, v long"), n_files=1
    )
    feed = tl.change_feed(spark, "k", from_version=0)
    got = {
        (r["_version"], r["_change_type"], r["k"], r["v"])
        for r in feed.collect()
    }
    assert got == {
        (1, "delete", 2, 20),
        (1, "update_preimage", 3, 30),
        (1, "update_postimage", 3, 31),
        (2, "insert", 7, 70),
    }
    # bounded window: only v2
    assert tl.change_feed(spark, "k", from_version=1).count() == 1


def test_change_feed_schema_evolution(spark, tmp_path):
    """A rewrite that ADDS a column still feeds: sides are aligned to
    the union schema with typed NULLs, so evolved rows classify as
    updates and the mixed-layout read is deterministic (mergeSchema)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), n_files=1
    )
    evolved = tl.read(spark).withColumn("extra", F.col("v") * 2)
    tl.commit(
        "evolve",
        add=tl.stage_data(evolved, n_files=1),
        remove=tl.active_files(0),
    )
    feed = tl.change_feed(spark, "k", from_version=0)
    got = {
        (r["_change_type"], r["k"], r["v"], r["extra"])
        for r in feed.collect()
    }
    assert got == {
        ("update_preimage", 1, 10, None),
        ("update_postimage", 1, 10, 20),
        ("update_preimage", 2, 20, None),
        ("update_postimage", 2, 20, 40),
    }


def test_deletion_vector_mor_delete(spark, tmp_path):
    """MOR delete hides rows without touching data files; time travel
    below the DV commit still sees them; a second delete's sidecar is
    the position UNION (superset-replace)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(100).withColumnRenamed("id", "k")
    tl.append(df, n_files=4)  # v0
    files_before = sorted(p.name for p in tl.data_dir.glob("*.parquet"))

    tl.delete_where_mor(spark, F.col("k") % 10 == 0)  # v1: 10 rows
    assert tl.read(spark, 1).count() == 90
    assert tl.read(spark, 0).count() == 100  # time travel pre-DV
    # no data file added, removed, or rewritten
    assert sorted(p.name for p in tl.data_dir.glob("*.parquet")) == files_before
    assert tl.history()[1]["n_added"] == 0
    assert tl.history()[1]["n_removed"] == 0

    tl.delete_where_mor(spark, F.col("k") % 15 == 0)  # v2: union
    survivors = {
        r["k"]
        for r in tl.read(spark).select("k").collect()
    }
    assert survivors == {
        k for k in range(100) if k % 10 != 0 and k % 15 != 0
    }
    # each bound sidecar holds the full merged positions for its file
    total_dv_positions = sum(
        len(tl._read_dv(p)) for p in tl.dvs().values()
    )
    assert total_dv_positions == sum(
        1 for k in range(100) if k % 10 == 0 or k % 15 == 0
    )


def test_deletion_vector_checkpoint_and_vacuum(spark, tmp_path):
    """DV bindings ride checkpoints (replay above the floor) and
    vacuum keeps referenced sidecars while removing orphans."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(50).withColumnRenamed("id", "k")
    tl.append(df, n_files=2)
    tl.delete_where_mor(spark, F.col("k") < 5)
    orphan = tl.dv_dir / "orphan.json"
    orphan.write_text(json.dumps({"file": "data/x", "positions": [0]}))
    # push past a checkpoint boundary
    for _ in range(_CHECKPOINT_EVERY):
        tl.append(
            spark.range(1000, 1001).withColumnRenamed("id", "k"), n_files=1
        )
    tl.vacuum(retain_versions=2)
    assert not orphan.exists()
    assert len(tl.dvs()) == 2  # both v0 files still carry their DVs
    assert tl.read(spark).where(F.col("k") < 5).count() == 0


def test_deletion_vector_corrupt_sidecar_fails_closed(spark, tmp_path):
    """A torn DV sidecar must make the read raise: parsed leniently it
    yields no positions, which silently un-deletes the rows it hid."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(20).withColumnRenamed("id", "k"), n_files=1)
    tl.delete_where_mor(spark, F.col("k") < 5)
    assert tl.read(spark).count() == 15
    (sidecar,) = tl.dvs().values()
    path = tl.root / sidecar
    path.write_bytes(path.read_bytes()[: path.stat().st_size // 2])
    with pytest.raises(Exception, match="(?i)malformed"):
        tl.read(spark).collect()


def test_deletion_vector_rewrite_drops_binding(spark, tmp_path):
    """Removing a data file (compaction/rewrite) retires its DV."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(20).withColumnRenamed("id", "k")
    tl.append(df, n_files=1)
    tl.delete_where_mor(spark, F.col("k") % 2 == 0)
    assert tl.read(spark).count() == 10
    # compaction folds the DV into a rewrite: read (DV-aware) and
    # overwrite — the new file has no DV and the same visible rows
    tl.overwrite(tl.read(spark), n_files=1, op="compact")
    assert tl.dvs() == {}
    assert tl.read(spark).count() == 10


def test_branch_isolation_publish_and_conflict(spark, tmp_path):
    """Branch commits are invisible to main until publish; publish is
    a fast-forward (no rewrite); a publish against a moved main
    conflicts instead of clobbering."""
    tl = _mk(tmp_path)
    base = spark.range(10).withColumnRenamed("id", "k")
    tl.append(base, n_files=2)  # main v0
    tl.create_branch("wap", from_version=0)

    adds = tl.stage_data(
        spark.range(100, 105).withColumnRenamed("id", "k"), n_files=1
    )
    tl.branch_commit("wap", "append", add=adds)
    assert tl.read(spark).count() == 10  # main unchanged
    assert tl.branch_read(spark, "wap").count() == 15

    v = tl.publish_branch("wap", expected_version=0)
    assert v == 1
    assert tl.read(spark).count() == 15
    # fast-forward: the branch's file was adopted, not rewritten
    assert tl.history()[-1]["n_added"] == 1
    assert tl.history()[-1]["n_removed"] == 0

    # moved-main conflict: a second branch published against a stale
    # expected_version must raise, not clobber
    tl.create_branch("wap2", from_version=1)
    adds2 = tl.stage_data(
        spark.range(200, 202).withColumnRenamed("id", "k"), n_files=1
    )
    tl.branch_commit("wap2", "append", add=adds2)
    tl.append(spark.range(300, 301).withColumnRenamed("id", "k"), n_files=1)
    with pytest.raises(CommitConflictError):
        tl.publish_branch("wap2", expected_version=1)


def test_branch_commit_optimistic_token(spark, tmp_path):
    tl = _mk(tmp_path)
    tl.append(spark.range(5).withColumnRenamed("id", "k"), n_files=1)
    tl.create_branch("b", from_version=0)
    adds = tl.stage_data(
        spark.range(5, 8).withColumnRenamed("id", "k"), n_files=1
    )
    tl.branch_commit("b", "append", add=adds, expected_version=-1)
    with pytest.raises(CommitConflictError):
        tl.branch_commit("b", "append", add=adds, expected_version=-1)


def test_check_constraints_enforced_on_increment(spark, tmp_path):
    """A violating staged batch is refused atomically (no version
    advance, no visible rows); constraints replace on re-set and ride
    checkpoints; a clean batch lands."""
    from hive_clone_spark.sources.txlog import ConstraintViolationError
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 6).withColumnRenamed("id", "k"), n_files=1)
    tl.set_constraints({"k_positive": "k > 0"})
    v_before = tl.latest_version()

    bad = tl.stage_data(
        spark.range(-3, 3).withColumnRenamed("id", "k"), n_files=1
    )
    with pytest.raises(ConstraintViolationError) as ei:
        tl.commit_checked(spark, "append", add=bad)
    assert ei.value.violations == {"k_positive": 4}
    assert tl.latest_version() == v_before
    assert tl.read(spark).count() == 5

    good = tl.stage_data(
        spark.range(10, 13).withColumnRenamed("id", "k"), n_files=1
    )
    tl.commit_checked(spark, "append", add=good)
    assert tl.read(spark).count() == 8
    # replacing the set relaxes enforcement
    tl.set_constraints({})
    tl.commit_checked(spark, "append", add=tl.stage_data(
        spark.range(-1, 0).withColumnRenamed("id", "k"), n_files=1))
    assert tl.read(spark).where(F.col("k") < 0).count() == 1


def test_audit_chain_detects_tamper(spark, tmp_path):
    """q195's chain: editing a historical commit's op invalidates its
    hash AND every later hash (the append-only audit property)."""
    import json

    from hive_clone_spark.sources.txlog import TxLog, chain_ledger

    tl = TxLog(str(tmp_path / "chain")).create()
    for lo in (0, 5, 10):
        tl.append(spark.range(lo, lo + 5).withColumnRenamed("id", "k"), n_files=1)
    before = chain_ledger(tl, spark)
    assert len(before) == 3
    assert len({h for *_x, h in before}) == 3  # all hashes distinct

    # tamper commit 1's op in place
    cpath = tl.log_dir / tl._commit_name(1)
    c = json.loads(cpath.read_text())
    c["op"] = "overwrite"
    cpath.write_text(json.dumps(c))

    after = chain_ledger(tl, spark)
    assert after[0][3] == before[0][3]  # pre-tamper prefix unchanged
    assert after[1][3] != before[1][3]  # tampered commit diverges
    assert after[2][3] != before[2][3]  # ...and everything after it


def test_empty_version_reads_and_survives_vacuum(spark, tmp_path):
    """A commit that removes every file is a legal EMPTY version: the
    snapshot reads as zero rows at the recorded logical schema, time
    travel below it still works, and vacuuming down to ONLY the empty
    version (all data files physically gone) still reads — the schema
    sidecar, not a parquet footer, carries the type information."""
    tl = _mk(tmp_path)
    df = spark.range(10).withColumnRenamed("id", "k")
    tl.append(df, n_files=2)
    tl.commit("delete", remove=tl.active_files())
    snap = tl.read(spark)
    assert snap.count() == 0
    assert snap.columns == ["k"]
    assert tl.read(spark, 0).count() == 10  # time travel below the delete
    # retain only the empty version: every data file is unreferenced
    stats = tl.vacuum(retain_versions=1)
    assert stats["n_data_files_removed"] == 2
    empty = tl.read(spark)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k"]
    # and the empty table accepts a fresh append
    tl.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    assert tl.read(spark).count() == 3


def test_empty_branch_snapshot_reads(spark, tmp_path):
    """A branch whose commits removed every file reads as an empty,
    correctly-schemed frame (branch_read goes through the same
    zero-file path as main snapshots)."""
    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)
    tl.create_branch("wip")
    bfiles, _, _, _ = tl.branch_replay("wip")
    tl.branch_commit("wip", "delete", remove=sorted(bfiles))
    snap = tl.branch_read(spark, "wip")
    assert snap.count() == 0
    assert snap.columns == ["k"]
    # main is untouched
    assert tl.read(spark).count() == 4


def test_schema_is_versioned_per_commit(spark, tmp_path):
    """The logical schema is a COMMIT action, not a last-writer-wins
    sidecar: time travel to an empty version resolves the schema as of
    THAT version, even after later commits evolved it (append schema A,
    delete-all, append schema B -> the v1 empty snapshot reads as A,
    not B)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    a = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("s"))
    tl.append(a, n_files=1)                      # v0: schema (k, s)
    tl.commit("delete", remove=tl.active_files())  # v1: empty
    b = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(1.5).alias("price"),
        F.lit(True).alias("flag"),
    )
    tl.append(b, n_files=1)                      # v2: schema (k, price, flag)
    assert tl.read(spark, 1).columns == ["k", "s"]
    assert tl.read(spark, 2).columns == ["k", "price", "flag"]
    assert tl.table_schema(spark, 0).fieldNames() == ["k", "s"]
    assert tl.table_schema(spark).fieldNames() == ["k", "price", "flag"]


def test_alter_add_column_is_metadata_only(spark, tmp_path):
    """ADD COLUMN publishes one schema-action commit (no add/remove
    actions, no data file written); pre-ALTER files read back with the
    new column NULL-filled, and a post-ALTER append carries real
    values while old files keep NULL-filling. Time travel below the
    ALTER still reads the old layout."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 6).withColumnRenamed("id", "k"), n_files=1)  # v0
    n_data_before = len(list(tl.data_dir.glob("*.parquet")))
    v = tl.alter_add_column(spark, "score", "DOUBLE")                     # v1
    assert v == 1
    c = tl._read_commit(1)
    assert c["add"] == [] and c["remove"] == []
    assert len(list(tl.data_dir.glob("*.parquet"))) == n_data_before
    snap1 = tl.read(spark, 1)
    assert snap1.columns == ["k", "score"]
    assert snap1.where(F.col("score").isNotNull()).count() == 0
    assert snap1.count() == 5
    # post-ALTER append carries values; old files still NULL-fill
    tl.append(
        spark.range(10, 13).select(
            F.col("id").alias("k"), (F.col("id") * 0.5).alias("score")
        ),
        n_files=1,
    )                                                                     # v2
    snap2 = tl.read(spark)
    assert snap2.count() == 8
    assert snap2.where(F.col("score").isNotNull()).count() == 3
    # time travel below the ALTER: the old layout, no phantom column
    assert tl.read(spark, 0).columns == ["k"]
    # duplicate column refused
    with pytest.raises(ValueError, match="already exists"):
        tl.alter_add_column(spark, "score", "DOUBLE")


def test_aborted_stage_does_not_alter_schema(spark, tmp_path):
    """A writer that STAGES but never commits (aborted, or a losing
    optimistic writer) must not alter the table's logical schema — the
    schema publishes with the winning commit only."""
    from pyspark.sql import functions as F

    from hive_clone_spark.sources.txlog import TxLog

    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)
    tl.commit("delete", remove=tl.active_files())  # empty at schema (k)
    loser = TxLog(str(tl.root))
    loser.stage_data(
        spark.range(2).select(F.col("id").alias("other")), n_files=1
    )  # staged, never committed
    assert tl.read(spark).columns == ["k"]
    assert tl.table_schema(spark).fieldNames() == ["k"]


def test_branch_stage_does_not_alter_main_schema(spark, tmp_path):
    """Branch (WAP) staging publishes its schema into the BRANCH chain
    only; main's logical schema moves when the branch is published."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)
    tl.create_branch("wip")
    wide = spark.range(2).select(
        F.col("id").alias("k"), F.lit("a").alias("extra")
    )
    bfiles, _, _, _ = tl.branch_replay("wip")
    tl.branch_commit(
        "wip", "rewrite", add=tl.stage_data(wide, n_files=1),
        remove=sorted(bfiles),
    )
    # main: schema unchanged; branch: evolved
    assert tl.table_schema(spark).fieldNames() == ["k"]
    assert tl.branch_read(spark, "wip").columns == ["k", "extra"]
    tl.publish_branch("wip")
    assert tl.table_schema(spark).fieldNames() == ["k", "extra"]


def test_publish_branch_preserves_concurrent_main_alter(spark, tmp_path):
    """A rebase-style publish of a branch that made NO schema change
    must not revert a schema change that landed on MAIN after the
    branch was cut (round-12 advice): the branch chain's schema action
    is a mere restatement of the base schema, so the publish carries no
    schema action and main's post-branch ALTER survives."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)  # v0
    tl.create_branch("wip")
    # branch appends data at the UNCHANGED base schema (k)
    tl.branch_commit(
        "wip", "append",
        add=tl.stage_data(
            spark.range(10, 12).withColumnRenamed("id", "k"), n_files=1
        ),
    )
    # meanwhile main evolves: metadata-only ALTER ADD COLUMN
    tl.alter_add_column(spark, "extra", "STRING")                      # v1
    # rebase-style publish against current latest (the WAP retry path)
    tl.publish_branch("wip", expected_version=tl.latest_version())
    assert "schema" not in tl._read_commit(tl.latest_version())
    assert tl.table_schema(spark).fieldNames() == ["k", "extra"]
    snap = tl.read(spark)
    assert snap.columns == ["k", "extra"]
    assert snap.count() == 6  # base 4 + branch 2, NULL-filled extra


def test_publish_branch_ignores_unrelated_stash(spark, tmp_path):
    """An unrelated pending stage_data on the publishing writer must
    not leak its frame schema into the publish commit (round-12
    advice: the old schema=None fallback reached for the stash)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)
    tl.create_branch("wip")
    tl.branch_commit(
        "wip", "append",
        add=tl.stage_data(
            spark.range(5, 7).withColumnRenamed("id", "k"), n_files=1
        ),
    )
    # unrelated staging leaves a pending stash on this writer handle
    tl.stage_data(
        spark.range(2).select(F.col("id").alias("other")), n_files=1
    )
    tl.publish_branch("wip", expected_version=tl.latest_version())
    assert "schema" not in tl._read_commit(tl.latest_version())
    assert tl.table_schema(spark).fieldNames() == ["k"]


def test_publish_branch_carries_branch_schema_change(spark, tmp_path):
    """Counterpart: when the branch chain DID evolve the schema, the
    publish still carries it (the pre-fix behavior that must stay)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)
    tl.create_branch("wip")
    wide = spark.range(2).select(
        F.col("id").alias("k"), F.lit("a").alias("extra")
    )
    bfiles, _, _, _ = tl.branch_replay("wip")
    tl.branch_commit(
        "wip", "rewrite", add=tl.stage_data(wide, n_files=1),
        remove=sorted(bfiles),
    )
    tl.publish_branch("wip", expected_version=tl.latest_version())
    assert tl.table_schema(spark).fieldNames() == ["k", "extra"]


def test_alter_add_column_concurrent_alter_retries(spark, tmp_path):
    """Two concurrent ALTER ADD COLUMNs: the loser's retry must fold
    the winner's column into its re-read schema (round-12 advice: the
    unconditioned commit silently clobbered the concurrent ALTER)."""
    tl = _mk(tmp_path)
    tl.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)  # v0
    other = TxLog(tl.root)
    real_commit = tl.commit
    fired = {"done": False}

    def interposed(*a, **kw):
        # a concurrent ALTER lands between this writer's schema read
        # and its commit attempt — exactly once
        if not fired["done"]:
            fired["done"] = True
            other.alter_add_column(spark, "b_col", "STRING")
        return real_commit(*a, **kw)

    tl.commit = interposed
    tl.alter_add_column(spark, "a_col", "INT")
    assert tl.table_schema(spark).fieldNames() == ["k", "b_col", "a_col"]


def test_alter_rename_drop_no_resurrection(spark, tmp_path):
    """RENAME and DROP are metadata-only; re-ADDing a dropped logical
    name binds a fresh physical name, so the dropped column's bytes
    (still in the files) never resurrect."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(1, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tl.append(df, n_files=1)                                         # v0
    tl.alter_rename_column(spark, "v", "val")                        # v1
    assert tl.read(spark, 1).columns == ["k", "val"]
    assert tl.read(spark, 1).agg(F.sum("val")).collect()[0][0] == 100
    tl.alter_drop_column(spark, "val")                               # v2
    assert tl.read(spark, 2).columns == ["k"]
    tl.alter_add_column(spark, "val", "BIGINT")                      # v3
    snap = tl.read(spark, 3)
    assert snap.columns == ["k", "val"]
    # the re-added column must NOT read the dropped column's data
    assert snap.where(F.col("val").isNotNull()).count() == 0
    # all three alters moved zero files
    for v in (1, 2, 3):
        c = tl._read_commit(v)
        assert not c["add"] and not c["remove"]
    # time travel below the alters still reads the original layout
    assert tl.read(spark, 0).columns == ["k", "v"]


def test_alter_rename_dv_read(spark, tmp_path):
    """Deletion vectors and column mapping compose: a MoR delete on a
    renamed table hides rows under the logical names."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(1, 11).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tl.append(df, n_files=1)
    tl.alter_rename_column(spark, "v", "val")
    # MoR delete speaks PHYSICAL names (it scans the raw files)
    tl.delete_where_mor(spark, F.col("v") > 70)
    snap = tl.read(spark)
    assert snap.columns == ["k", "val"]
    assert sorted(r["k"] for r in snap.collect()) == [1, 2, 3, 4, 5, 6, 7]
    assert snap.agg(F.sum("val")).collect()[0][0] == 280


def test_alter_rename_concurrent_retries(spark, tmp_path):
    """Concurrent rename + add: the loser's retry folds the winner's
    schema commit instead of clobbering it."""
    tl = _mk(tmp_path)
    tl.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    other = TxLog(tl.root)
    real_commit = tl.commit
    fired = {"done": False}

    def interposed(*a, **kw):
        if not fired["done"]:
            fired["done"] = True
            other.alter_add_column(spark, "extra", "STRING")
        return real_commit(*a, **kw)

    tl.commit = interposed
    tl.alter_rename_column(spark, "k", "key")
    assert tl.table_schema(spark).fieldNames() == ["key", "extra"]


def test_alter_drop_only_column_rejected(spark, tmp_path):
    tl = _mk(tmp_path)
    tl.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    with pytest.raises(ValueError, match="only column"):
        tl.alter_drop_column(spark, "k")


def test_change_feed_dv_aware(spark, tmp_path):
    """CDC composes with deletion vectors (round 13): a dv commit
    emits deletes for exactly its NEWLY hidden positions (superset
    rebind diffs against the prior binding), and a later copy-on-write
    rewrite does not re-report rows a DV already hid."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(1, 11).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tl.append(df, n_files=1)                                         # v0
    tl.delete_where_mor(spark, F.col("k") <= 3)                      # v1
    tl.delete_where_mor(spark, F.col("k") <= 5)                      # v2 (superset rebind)
    tl.overwrite(tl.read(spark), n_files=1, op="compact")            # v3
    feed = tl.change_feed(spark, "k").collect()
    by_ver: dict[int, list] = {}
    for r in feed:
        by_ver.setdefault(r["_version"], []).append(r)
    assert sorted(r["k"] for r in by_ver[0]) == list(range(1, 11))
    assert all(r["_change_type"] == "insert" for r in by_ver[0])
    assert sorted(r["k"] for r in by_ver[1]) == [1, 2, 3]
    assert all(r["_change_type"] == "delete" for r in by_ver[1])
    # superset rebind: only the two NEWLY hidden keys
    assert sorted(r["k"] for r in by_ver[2]) == [4, 5]
    assert all(r["_change_type"] == "delete" for r in by_ver[2])
    # compaction rewrote identical live rows: zero feed rows, and in
    # particular NO re-reported deletes for 1..5
    assert 3 not in by_ver
    # an empty window (only the no-op tail) is a legal empty feed
    assert tl.change_feed(spark, "k", from_version=3).count() == 0


def test_shallow_clone_carries_dvs_meta_constraints(spark, tmp_path):
    """Round-13 composition fixes, pinned: (a) a clone of a DV'd table
    must HIDE the deleted rows (position matching is by file basename,
    so the clone's absolute-path bindings resolve — previously all 10
    rows resurrected); (b) MoR delete ON the clone binds DVs to the
    clone's active keys (absolute paths) without touching the source;
    (c) the clone carries the source's column mapping and CHECK
    constraints as of the fork."""
    from pyspark.sql import functions as F

    from hive_clone_spark.sources.txlog import shallow_clone

    tl = _mk(tmp_path)
    tl.append(
        spark.range(1, 11).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        n_files=1,
    )
    tl.set_constraints({"v_positive": "v > 0"})
    tl.alter_rename_column(spark, "v", "val")
    tl.delete_where_mor(spark, F.col("v") <= 30)  # physical name
    assert tl.read(spark).count() == 7
    cl = shallow_clone(tl, str(tmp_path / "clone"))
    snap = cl.read(spark)
    assert snap.columns == ["k", "val"]  # mapping carried
    assert snap.count() == 7             # DVs carried and applied
    assert cl.constraints() == {"v_positive": "v > 0"}
    # MoR delete on the CLONE: its own chain, absolute-path bindings
    cl.delete_where_mor(spark, F.col("v") >= 90)
    assert cl.read(spark).count() == 5
    assert tl.read(spark).count() == 7   # source untouched
    # clone-side feed reports exactly the clone's own dv deletes
    feed = cl.change_feed(spark, "k", from_version=0).collect()
    assert sorted(
        r["k"] for r in feed if r["_change_type"] == "delete"
    ) == [9, 10]


def test_change_feed_below_vacuum_cutoff_errors(spark, tmp_path):
    """A CDF window reaching below the vacuum cutoff errors instead of
    silently returning a partial change history."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    for i in range(4):
        tl.append(
            spark.range(i * 10, i * 10 + 5).withColumnRenamed("id", "k"),
            n_files=1,
        )
    tl.vacuum(retain_versions=2)
    with pytest.raises(ValueError, match="vacuum cutoff"):
        tl.change_feed(spark, "k", from_version=0)
    # the cutoff version ITSELF is not feedable: its diff needs the
    # pre-cutoff DV state and removed-file content vacuum destroyed
    with pytest.raises(ValueError, match="vacuum cutoff"):
        tl.change_feed(spark, "k", from_version=1)
    # a window entirely above the cutoff still feeds
    assert tl.change_feed(spark, "k", from_version=2).count() == 5


def test_restore_rolls_back_data_schema_constraints_dvs(spark, tmp_path):
    """restore(v) publishes ONE net-diff commit that makes version v's
    snapshot current again: files, DV bindings, logical schema, CHECK
    constraints, and column mapping all roll back; the log itself
    stays append-only (intermediate versions remain readable)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(
        spark.range(1, 11).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        n_files=2,
    )                                                   # v0
    tl.set_constraints({"v_positive": "v > 0"})         # v1
    tl.delete_where_mor(spark, F.col("v") <= 30)        # v2 (MoR: k 1-3)
    tl.alter_rename_column(spark, "v", "val")           # v3
    tl.append(
        spark.range(11, 16).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        n_files=1,
    )                                                   # v4
    assert tl.read(spark).count() == 12
    v = tl.restore(spark, 0)                            # v5
    assert v == 5
    snap = tl.read(spark)
    assert snap.columns == ["k", "v"]                   # rename undone
    assert snap.count() == 10                           # DV unbound, appends gone
    assert sorted(r["k"] for r in snap.collect()) == list(range(1, 11))
    assert tl.constraints() == {}                       # constraints rolled back
    assert tl.dvs() == {}
    assert tl.table_meta().get("mapping") in (None, {})
    # append-only: time travel between target and restore still works
    assert tl.read(spark, 4).count() == 12
    assert tl.read(spark, 3).columns == ["k", "val"]
    assert tl.history()[-1]["op"] == "restore"
    # restore moved no data: every re-exposed byte was already on disk
    c = tl._read_commit(5)
    assert all((tl.root / a["file"]).exists() for a in c["add"])


def test_restore_change_feed_and_idempotence(spark, tmp_path):
    """The change feed over a restore commit reports its row-level
    effect: rows a post-target MoR delete hid come back as inserts,
    post-target appends feed as deletes. Restoring to the version the
    table is already at is a no-op diff (empty add/remove/dv)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 9).withColumnRenamed("id", "k"), n_files=1)  # v0
    tl.delete_where_mor(spark, F.col("k") >= 7)                           # v1
    tl.append(spark.range(20, 23).withColumnRenamed("id", "k"), n_files=1)  # v2
    tl.restore(spark, 0)                                                  # v3
    feed = tl.change_feed(spark, "k", from_version=2).collect()
    ins = sorted(r["k"] for r in feed if r["_change_type"] == "insert")
    dels = sorted(r["k"] for r in feed if r["_change_type"] == "delete")
    assert ins == [7, 8]          # DV unbind re-exposes
    assert dels == [20, 21, 22]   # v2 append undone
    # restore-to-current is an empty net diff
    v = tl.restore(spark, 3)
    c = tl._read_commit(v)
    assert c["add"] == [] and c["remove"] == [] and "dv" not in c
    assert tl.read(spark).count() == 8


def test_restore_guards_and_identity_hwm(spark, tmp_path):
    """Restore below the vacuum cutoff errors; a vacuumed-away target
    data file errors BEFORE any commit; the identity high-water mark
    is never rolled back (ids from undone commits stay burned)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(5).withColumnRenamed("id", "k"), n_files=1)   # v0
    tl.overwrite(spark.range(9).withColumnRenamed("id", "k"), n_files=1)  # v1
    tl.commit("bump-hwm", meta={"identity_next": 100})                  # v2
    tl.vacuum(retain_versions=2)   # cutoff 1: v0 gone, its file deleted
    with pytest.raises(ValueError, match="no such commit"):
        tl.restore(spark, 0)
    latest = tl.latest_version()
    tl.restore(spark, 1)           # keeps hwm even though v1 had none
    assert tl.table_meta().get("identity_next") == 100
    assert tl.read(spark).count() == 9
    # simulate a shallow-clone source vacuum: unlink a target file
    tl2 = _mk(tmp_path, "t2")
    tl2.append(spark.range(4).withColumnRenamed("id", "k"), n_files=1)  # v0
    tl2.overwrite(spark.range(6).withColumnRenamed("id", "k"), n_files=1)  # v1
    victim = tl2.root / tl2.active_files(0)[0]
    victim.unlink()
    before = tl2.latest_version()
    with pytest.raises(ValueError, match="no longer on disk"):
        tl2.restore(spark, 0)
    assert tl2.latest_version() == before  # nothing committed


def test_reorg_purge_rewrites_only_bound_files(spark, tmp_path):
    """REORG APPLY (PURGE) materializes MoR deletes by rewriting ONLY
    DV-bound files: unbound files keep their identity, bindings clear,
    the row set is unchanged, and the change feed over the purge
    commit is EMPTY (a pure physical reorganization)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 11).withColumnRenamed("id", "k"), n_files=1)   # v0: file A
    tl.append(spark.range(11, 21).withColumnRenamed("id", "k"), n_files=1)  # v1: file B
    file_b = (set(tl.active_files()) - set(tl.active_files(0))).pop()
    tl.delete_where_mor(spark, F.col("k") <= 3)                             # v2: DV on A only
    assert len(tl.dvs()) == 1
    v = tl.reorg_purge(spark)                                               # v3
    assert v == 3
    assert tl.dvs() == {}
    assert file_b in tl.active_files()          # untouched file keeps identity
    c = tl._read_commit(3)
    assert len(c["add"]) == 1 and len(c["remove"]) == 1
    assert sorted(r["k"] for r in tl.read(spark).collect()) == list(range(4, 21))
    # purge is row-invisible: the feed over it carries no changes
    assert tl.change_feed(spark, "k", from_version=2).count() == 0
    # nothing left to purge: no new commit
    assert tl.reorg_purge(spark) == 3
    assert tl.latest_version() == 3


def test_reorg_purge_on_mapped_table(spark, tmp_path):
    """Purge on a column-mapped table restages at physical names and
    publishes no schema action: logical reads, the mapping, and CHECK
    constraints all survive."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(
        spark.range(1, 9).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        n_files=1,
    )
    tl.set_constraints({"v_positive": "v > 0"})
    tl.alter_rename_column(spark, "v", "val")
    tl.delete_where_mor(spark, F.col("v") <= 20)  # physical name
    assert tl.read(spark).count() == 6
    tl.reorg_purge(spark)
    snap = tl.read(spark)
    assert snap.columns == ["k", "val"]
    assert snap.count() == 6
    assert tl.dvs() == {}
    assert tl.constraints() == {"v_positive": "v > 0"}
    # time travel below the purge still applies the old DV
    assert tl.read(spark, 3).count() == 6


def test_restore_retries_on_commit_conflict(spark, tmp_path):
    """restore() uses the same optimistic-retry loop as every other
    read-modify-write path: a commit landing between its read and its
    commit makes the first attempt conflict, and the retry recomputes
    the net diff against the NEW latest (the interloper's file is
    removed too)."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 6).withColumnRenamed("id", "k"), n_files=1)   # v0
    tl.append(spark.range(6, 11).withColumnRenamed("id", "k"), n_files=1)  # v1
    interloper = TxLog(tl.root)
    adds = interloper.stage_data(
        spark.range(11, 14).withColumnRenamed("id", "k"), n_files=1
    )
    real_commit, fired = tl.commit, []

    def racing_commit(*args, **kwargs):
        if not fired:
            fired.append(True)
            # lands between restore's read and its commit attempt
            interloper.commit("append", add=adds, schema=None)
        return real_commit(*args, **kwargs)

    tl.commit = racing_commit
    try:
        v = tl.restore(spark, 0)
    finally:
        tl.commit = real_commit
    assert v == 3  # v2 = interloper, v3 = restore
    assert sorted(r["k"] for r in tl.read(spark).collect()) == [1, 2, 3, 4, 5]


def test_restore_on_shallow_clone(spark, tmp_path):
    """A shallow clone restores to its own fork snapshot through the
    absolute-path file references; the source is untouched."""
    from pyspark.sql import functions as F

    from hive_clone_spark.sources.txlog import shallow_clone

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 9).withColumnRenamed("id", "k"), n_files=2)
    cl = shallow_clone(tl, str(tmp_path / "clone"))          # clone v0
    cl.delete_where_mor(spark, F.col("k") <= 4)              # clone v1
    cl.append(spark.range(20, 23).withColumnRenamed("id", "k"), n_files=1)  # v2
    assert cl.read(spark).count() == 7
    cl.restore(spark, 0)                                     # clone v3
    assert sorted(r["k"] for r in cl.read(spark).collect()) == list(range(1, 9))
    assert cl.dvs() == {}
    assert tl.read(spark).count() == 8  # source untouched
    assert tl.latest_version() == 0


def test_restore_unbind_folds_across_checkpoint(spark, tmp_path):
    """A checkpoint written AFTER a MoR delete stores the DV binding;
    a restore committed AFTER the checkpoint unbinds it with a
    dv: null action. A FRESH handle (pure replay: checkpoint floor +
    post-checkpoint commits) must fold the unbind against the
    checkpoint's dvs dict — and time travel on both sides of the
    checkpoint must agree with the history."""
    from pyspark.sql import functions as F

    from hive_clone_spark.sources.txlog import _CHECKPOINT_EVERY, TxLog

    tl = _mk(tmp_path)
    for i in range(_CHECKPOINT_EVERY - 1):                    # v0..v6
        tl.append(
            spark.range(i * 10, i * 10 + 5).withColumnRenamed("id", "k"),
            n_files=1,
        )
    tl.delete_where_mor(spark, F.col("k") % 10 == 0)          # v7 -> checkpoint
    assert (tl.log_dir / f"{_CHECKPOINT_EVERY - 1:08d}.checkpoint.json").exists()
    n_files_before = len(tl.active_files())
    tl.restore(spark, 3)                                      # v8: unbinds + removes
    fresh = TxLog(tl.root)  # no in-memory state: replay only
    assert fresh.dvs() == {}
    assert sorted(r["k"] for r in fresh.read(spark).collect()) == [
        k for i in range(4) for k in range(i * 10, i * 10 + 5)
    ]
    # pre-restore versions on both sides of the checkpoint still read
    assert fresh.read(spark, 7).count() == (_CHECKPOINT_EVERY - 1) * 5 - 7
    assert fresh.read(spark, 6).count() == (_CHECKPOINT_EVERY - 1) * 5
    # a later purge on a re-armed DV also folds from the checkpoint
    fresh.delete_where_mor(spark, F.col("k") >= 30)           # v9
    fresh.reorg_purge(spark)                                  # v10
    again = TxLog(tl.root)
    assert again.dvs() == {}
    assert again.read(spark).count() == 15
    assert again.active_files(8) is not None  # restore version replays


def test_change_feed_on_column_mapped_table(spark, tmp_path):
    """The feed speaks the LOGICAL schema as of the window end: after
    an ALTER RENAME, file columns (physical names) are projected back,
    so a feed keyed on the renamed column works and every change row
    exposes logical names — pre- and post-rename commits included."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(
        spark.range(1, 7).select(
            F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
        ),
        n_files=1,
    )                                                   # v0
    tl.alter_rename_column(spark, "k", "key_id")        # v1: the KEY renamed
    # post-rename CoW rewrite: stage at PHYSICAL names like DML does
    snap = tl.read(spark)                               # logical: key_id, v
    rewritten = snap.withColumn(
        "v", F.when(F.col("key_id") == 3, 0.0).otherwise(F.col("v"))
    )
    tl.commit(
        "update",
        add=tl.stage_data(tl.to_physical(rewritten), n_files=1),
        remove=tl.active_files(),
        schema=None,
    )                                                   # v2
    tl.delete_where_mor(spark, F.col("k") == 6)         # v3 (physical pred)
    feed = tl.change_feed(spark, "key_id", from_version=1)
    rows = feed.collect()
    assert set(feed.columns) == {"_version", "_change_type", "key_id", "v"}
    pre = [r for r in rows if r["_change_type"] == "update_preimage"]
    post = [r for r in rows if r["_change_type"] == "update_postimage"]
    assert [(r["key_id"], r["v"]) for r in pre] == [(3, 30.0)]
    assert [(r["key_id"], r["v"]) for r in post] == [(3, 0.0)]
    dels = [r for r in rows if r["_change_type"] == "delete"]
    assert sorted(r["key_id"] for r in dels) == [6]
    # the full-window feed (pre-rename v0 included) is logical too
    full = tl.change_feed(spark, "key_id", from_version=-1)
    assert set(full.columns) == {"_version", "_change_type", "key_id", "v"}
    assert full.where(F.col("_version") == 0).count() == 6


def test_alter_rename_with_partial_mapping(spark, tmp_path):
    """A q231-style table commits a mapping that does not cover every
    schema field; renaming an unmapped column must treat its physical
    name as the logical one, not raise KeyError."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    df = spark.range(1, 5).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    tl.commit("create", add=tl.stage_data(df, n_files=1),
              meta={"mapping": {"a": "a"}})  # partial: no entry for b
    tl.alter_rename_column(spark, "b", "bee")
    assert tl.table_meta()["mapping"]["bee"] == "b"
    snap = tl.read(spark)
    assert snap.columns == ["a", "bee"]
    assert snap.agg(F.sum("bee")).collect()[0][0] == 20


def test_publish_branch_ignores_nullability_drift(spark, tmp_path):
    """Branch frames derived from tl.read() pick up cosmetic
    nullability drift; schema-change detection must be STRUCTURAL
    (names + types), or a rebase-style publish republishes the stale
    branch schema and reverts a concurrent main-side ALTER."""
    from pyspark.sql import functions as F

    tl = _mk(tmp_path)
    tl.append(spark.range(1, 6).withColumnRenamed("id", "k"), n_files=1)  # v0
    tl.create_branch("wip")
    # branch restates the SAME shape but via a read-back (nullable drift)
    tl.branch_commit(
        "wip", "append",
        add=tl.stage_data(tl.read(spark).where(F.lit(False)), n_files=1),
    )
    # main evolves concurrently
    tl.alter_add_column(spark, "flag", "BOOLEAN")                          # v1
    tl.publish_branch("wip", expected_version=tl.latest_version())         # v2
    cols = [f.name for f in tl.table_schema(spark).fields]
    assert cols == ["k", "flag"], cols  # the ALTER survived the publish


def test_dvs_and_constraints_error_cleanly_below_cutoff(spark, tmp_path):
    """Metadata accessors below the vacuum cutoff raise the same clean
    ValueError as read()/active_files(), not FileNotFoundError."""
    tl = _mk(tmp_path)
    for i in range(4):
        tl.overwrite(
            spark.range(i, i + 3).withColumnRenamed("id", "k"), n_files=1
        )
    tl.vacuum(retain_versions=2)
    with pytest.raises(ValueError, match="no commit"):
        tl.dvs(0)
    with pytest.raises(ValueError, match="no commit"):
        tl.constraints(1)


# ---------------------------------------------------------------------------
# footer statistics: _footer_minmax fails closed, the bucket bound
# reads them, and q187's redelivery stays inside the sink's txn gate
# ---------------------------------------------------------------------------
def _write_keys(path, keys, **kw):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), path, **kw)
    return path


def test_footer_minmax_skips_only_all_null_row_groups(tmp_path):
    from hive_clone_spark.sources.txlog import _footer_minmax

    # row groups of 2: [NULL, NULL] [5, 9] [NULL, 3]
    p = _write_keys(tmp_path / "a.parquet", [None, None, 5, 9, None, 3],
                    row_group_size=2)
    assert _footer_minmax(p, "k") == (3, 9)
    allnull = _write_keys(tmp_path / "n.parquet", [None, None])
    assert _footer_minmax(allnull, "k") is None
    assert _footer_minmax(p, "missing") is None


def test_footer_minmax_fails_closed_without_stats(tmp_path, monkeypatch):
    from types import SimpleNamespace as NS

    import pyarrow.parquet as pq

    from hive_clone_spark.sources.txlog import _footer_minmax

    bare = _write_keys(tmp_path / "s.parquet", [1, 2, 3], write_statistics=False)
    assert _footer_minmax(bare, "k") is None

    # one row group with bounds, one without: answering (1, 2) would let
    # scan_files prune the file for keys only the second group holds
    def st(mn, mx, nulls):
        return NS(has_min_max=mn is not None, min=mn, max=mx,
                  has_null_count=True, null_count=nulls)

    def footer(*groups):  # each group: (num_rows, statistics)
        rgs = [NS(num_rows=n, column=lambda i, s=s: NS(statistics=s))
               for n, s in groups]
        md = NS(schema=NS(names=["k"]), num_row_groups=len(rgs),
                row_group=rgs.__getitem__)
        monkeypatch.setattr(pq, "read_metadata", lambda path: md)
        return _footer_minmax("x", "k")

    assert footer((2, st(1, 2, 0)), (2, None)) is None
    assert footer((2, st(1, 2, 0)), (2, st(None, None, 1))) is None
    assert footer((2, st(1, 2, 0)), (2, st(None, None, 2))) == (1, 2)
    assert footer((2, st(1, 2, 0)), (0, None)) == (1, 2)


def _orders_variant(tmp_path, sf_dir, layout):
    """A copy of ``sf_dir``'s orders (two columns) as ``layout``:
    'stats-less' single file, 'parts' (two parts, both with stats) or
    'mixed-parts' (the second part without stats)."""
    import os

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_totalprice"])
    d = tmp_path / layout
    d.mkdir()
    if layout == "stats-less":
        pq.write_table(t, d / "orders.parquet", write_statistics=False)
    else:
        (d / "orders.parquet").mkdir()
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), d / "orders.parquet" / "part-00000.parquet")
        pq.write_table(t.slice(half), d / "orders.parquet" / "part-00001.parquet",
                       write_statistics=layout == "parts")
    return str(d)


@pytest.mark.parametrize("layout", [None, "stats-less", "parts", "mixed-parts"])
def test_bucket_bound_from_footers_matches_aggregate(
    spark, sf_dir, tmp_path, monkeypatch, layout
):
    from pyspark.sql import functions as F

    from hive_clone_spark.catalog import table
    from hive_clone_spark.sources import txlog

    src = sf_dir if layout is None else _orders_variant(tmp_path, sf_dir, layout)
    o = table(spark, src, "orders")
    want = o.agg(F.max("o_orderkey")).collect()[0][0]
    footer = txlog._footer_max(o, "o_orderkey")
    if layout in ("stats-less", "mixed-parts"):
        assert footer is None  # the aggregate fallback runs
    else:
        assert footer == want
    monkeypatch.setattr(txlog, "_warehouse_dir", lambda sf, name: str(tmp_path / name))
    tl, m = txlog._stage_bucketed_orders(spark, src, "txlog_bucket")
    assert m == want
    assert tl.read(spark).count() == o.count()


def _run_q187(spark, sf_dir, tmp_path, monkeypatch):
    from hive_clone_spark.sources import txlog

    monkeypatch.setattr(txlog, "_warehouse_dir", lambda sf, name: str(tmp_path / name))
    rows = txlog.q187_stream_cdc_upsert(spark, sf_dir).collect()
    return rows, TxLog(str(tmp_path / "txlog_q187"))


def test_q187_redelivery_leaves_no_orphans(spark, sf_dir, tmp_path, monkeypatch):
    rows, tl = _run_q187(spark, sf_dir, tmp_path, monkeypatch)
    assert rows and all(r["redelivery_skipped"] for r in rows)
    assert {r["n_versions"] for r in rows} == {tl.latest_version() + 1}
    referenced = {
        a["file"] for v in tl.versions() for a in tl._read_commit(v)["add"]
    }
    on_disk = {f"data/{p.name}" for p in tl.data_dir.glob("*.parquet")}
    assert on_disk and on_disk <= referenced


def test_q187_redelivery_check_has_teeth(spark, sf_dir, tmp_path, monkeypatch):
    # a txn gate that never recognises an applied batch: the redelivery
    # pass merges every batch a second time and the entry must say so
    monkeypatch.setattr(TxLog, "txn_applied", lambda self, txn: False)
    rows, _ = _run_q187(spark, sf_dir, tmp_path, monkeypatch)
    assert rows and not any(r["redelivery_skipped"] for r in rows)
