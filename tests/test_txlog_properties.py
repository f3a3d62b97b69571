"""Property test for the commit-log snapshot fold — the invariant the
whole table format rests on: the active file set (and stats / DV
bindings) at ANY version is a pure fold over commits 0..V, identical
whether replay starts at commit 0 or at an intermediate checkpoint
(checkpoints land automatically every _CHECKPOINT_EVERY commits, so
long random sequences cross several), and vacuum never changes what a
RETAINED version reads.

Spark-free: active_files / scan_files / dvs / table_meta are pure log
metadata, so the model check costs milliseconds per example and the
sequences can be long enough to exercise checkpoint boundaries.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hive_clone_spark.sources.txlog import _CHECKPOINT_EVERY, TxLog

# ops: ("add", n_files) | ("remove", k_existing) | ("dv", k_existing)
#    | ("meta", tag) | ("schema", tag)
op_strategy = st.one_of(
    st.tuples(st.just("add"), st.integers(min_value=1, max_value=3)),
    st.tuples(st.just("remove"), st.integers(min_value=1, max_value=3)),
    st.tuples(st.just("dv"), st.integers(min_value=0, max_value=2)),
    st.tuples(st.just("meta"), st.integers(min_value=0, max_value=5)),
    st.tuples(st.just("schema"), st.integers(min_value=0, max_value=3)),
)


@settings(max_examples=30, deadline=None)
@given(ops=st.lists(op_strategy, min_size=1, max_size=3 * _CHECKPOINT_EVERY))
def test_snapshot_fold_matches_model(tmp_path_factory, ops):
    tl = TxLog(str(tmp_path_factory.mktemp("txprop") / "log")).create()
    counter = 0
    # model[v] = (files, stats, dvs, meta, schema): schema is a
    # versioned full-replacement action like meta — the round-12 fix
    # (it used to be a shared mutable sidecar outside the log)
    model: list[tuple[frozenset, dict, dict, dict, dict | None]] = []
    files: set[str] = set()
    stats: dict[str, dict] = {}
    dvs: dict[str, str] = {}
    meta: dict = {}
    schema: dict | None = None
    for kind, arg in ops:
        if kind == "add":
            adds = []
            for _ in range(arg):
                name = f"data/f{counter:04d}.parquet"
                counter += 1
                adds.append({"file": name, "stats": {"k": [counter, counter + 9]}})
                files.add(name)
                stats[name] = {"k": [counter, counter + 9]}
            tl.commit("append", add=adds)
        elif kind == "remove":
            victims = sorted(files)[:arg]
            for v in victims:
                files.discard(v)
                stats.pop(v, None)
                dvs.pop(v, None)
            tl.commit("delete", remove=victims)
        elif kind == "dv":
            live = sorted(files)
            if not live:
                tl.commit("noop")  # a commit with no actions is legal
            else:
                target = live[arg % len(live)]
                sidecar = f"dv/{counter:04d}.json"
                counter += 1
                tl.commit("dv", dv=[{"file": target, "dv": sidecar}])
                dvs[target] = sidecar
        elif kind == "schema":  # versioned logical-schema replacement
            schema = {"tag": arg}
            tl.commit("schema-change", schema=dict(schema))
        else:  # meta: full-replacement table metadata
            meta = {"tag": arg}
            tl.commit("meta", meta=dict(meta))
        model.append(
            (frozenset(files), dict(stats), dict(dvs), dict(meta),
             dict(schema) if schema is not None else None)
        )

    # every version's snapshot equals the model fold at that version —
    # including versions BELOW checkpoint floors (replay must pick the
    # nearest checkpoint at or below, never one above)
    for v, (mf, mstats, mdvs, mmeta, mschema) in enumerate(model):
        assert set(tl.active_files(v)) == set(mf), f"v{v} files"
        assert tl.dvs(v) == mdvs, f"v{v} dvs"
        assert tl.table_meta(v) == mmeta, f"v{v} meta"
        assert tl._replay(v)[4] == mschema, f"v{v} schema"
        all_f, chosen = tl.scan_files("k", 0, 10**9, version=v)
        assert set(all_f) == set(mf)
        assert set(chosen) == set(mf)  # full range: stats prune nothing
        # and a real range prunes exactly the stats-disjoint files
        _, narrow = tl.scan_files("k", 0, 0, version=v)
        assert narrow == [
            f for f in sorted(mf) if f not in mstats
        ], f"v{v} stats pruning"

    # vacuum: retained versions read identically afterward; versions
    # below the cutoff become a clean error (their commits are gone)
    latest = tl.latest_version()
    retain = max(1, len(model) // 2)
    cut = tl.vacuum(retain_versions=retain)["cutoff"]
    for v, (mf, _s, mdvs, _m, mschema) in enumerate(model):
        if v >= cut:
            assert set(tl.active_files(v)) == set(mf), f"post-vacuum v{v}"
            assert tl.dvs(v) == mdvs
            # schema survives vacuum through the pinned checkpoint
            assert tl._replay(v)[4] == mschema, f"post-vacuum v{v} schema"
        else:
            with pytest.raises((ValueError, FileNotFoundError)):
                tl.active_files(v)
    assert tl.latest_version() == latest


branch_op_strategy = st.one_of(
    st.tuples(st.just("add"), st.integers(min_value=1, max_value=2)),
    st.tuples(st.just("remove"), st.integers(min_value=1, max_value=2)),
)


@settings(max_examples=25, deadline=None)
@given(
    n_base=st.integers(min_value=0, max_value=4),
    branch_ops=st.lists(branch_op_strategy, min_size=0, max_size=6),
    main_moves=st.integers(min_value=0, max_value=2),
)
def test_branch_wap_publish_matches_model(
    tmp_path_factory, n_base, branch_ops, main_moves
):
    """Write-audit-publish model: a branch snapshot is the main fold at
    its base plus the branch's own commits; publish_branch makes main
    EXACTLY the branch's file set in one atomic net-diff commit, even
    when main moved since branching; and a stale optimistic token
    conflicts instead of clobbering."""
    from hive_clone_spark.sources.txlog import CommitConflictError

    tl = TxLog(str(tmp_path_factory.mktemp("txwap") / "log")).create()
    counter = 0

    def fresh_files(n):
        nonlocal counter
        out = []
        for _ in range(n):
            out.append(f"data/f{counter:04d}.parquet")
            counter += 1
        return out

    main_files: set[str] = set()
    for _ in range(n_base):
        adds = fresh_files(2)
        main_files.update(adds)
        tl.commit("append", add=[{"file": f} for f in adds])

    tl.create_branch("wip")
    branch_files = set(main_files)
    for kind, arg in branch_ops:
        if kind == "add":
            adds = fresh_files(arg)
            branch_files.update(adds)
            tl.branch_commit("wip", "append", add=[{"file": f} for f in adds])
        else:
            victims = sorted(branch_files)[:arg]
            for v in victims:
                branch_files.discard(v)
            tl.branch_commit("wip", "delete", remove=victims)
    bfiles, _, _, _ = tl.branch_replay("wip")
    assert bfiles == branch_files, "branch fold"

    # main drifts while the branch is audited
    base_version = tl.latest_version()
    for _ in range(main_moves):
        adds = fresh_files(1)
        main_files.update(adds)
        tl.commit("append", add=[{"file": f} for f in adds])

    if main_moves:
        # stale token: publish must conflict, not clobber
        with pytest.raises(CommitConflictError):
            tl.publish_branch("wip", expected_version=base_version)
        assert set(tl.active_files() if tl.latest_version() >= 0 else []) == main_files

    tl.publish_branch("wip", expected_version=tl.latest_version())
    assert set(tl.active_files()) == branch_files, "post-publish main"
    # the branch snapshot itself is untouched by publishing
    bfiles2, _, _, _ = tl.branch_replay("wip")
    assert bfiles2 == branch_files


@settings(max_examples=25, deadline=None)
@given(
    # (txn_id, redeliver) deliveries — duplicates across the sequence
    # ARE the test — and ("vacuum", retain_versions) steps; sequences
    # are long enough for several checkpoints
    steps=st.lists(
        st.one_of(
            st.tuples(
                st.integers(min_value=0, max_value=2 * _CHECKPOINT_EVERY),
                st.booleans(),
            ),
            st.tuples(st.just("vacuum"), st.integers(min_value=1, max_value=3)),
        ),
        min_size=1,
        max_size=4 * _CHECKPOINT_EVERY,
    )
)
# batch 0 lands, then enough batches for a checkpoint, a vacuum that
# drops batch 0's commit, and batch 0 redelivered
@example(
    steps=[(t, t == 0) for t in range(_CHECKPOINT_EVERY + 1)]
    + [("vacuum", 1), (0, False)]
)
def test_commit_idempotent_exactly_once(tmp_path_factory, steps):
    """Exactly-once sink contract: a redelivered batch (same txn id)
    is dropped — the table state and version count advance only on
    FIRST delivery, no matter how deliveries interleave, and no matter
    whether checkpoints and vacuum have dropped the commit that
    applied it."""
    tl = TxLog(str(tmp_path_factory.mktemp("txidem") / "log")).create()
    counter = 0
    applied: dict[int, str] = {}  # txn -> the file its first delivery added
    for txn, arg in steps:
        if txn == "vacuum":
            tl.vacuum(retain_versions=arg)
            continue
        name = f"data/f{counter:04d}.parquet"
        counter += 1
        v = tl.commit_idempotent(f"app-{txn}", "append", add=[{"file": name}])
        if txn in applied:
            assert v is None, "redelivered txn must be dropped"
        else:
            assert v is not None
            applied[txn] = name
        if arg:  # redeliver: an immediate duplicate delivery
            assert tl.commit_idempotent(
                f"app-{txn}", "append", add=[{"file": name}]
            ) is None
    assert set(tl.active_files()) == set(applied.values())
    assert tl.latest_version() == len(applied) - 1


# ---------------------------------------------------------------------------
# Composed model (round-11 verdict task 5, delivered round 13):
# partition-SPEC EVOLUTION (q145's shape: appended generations whose
# files carry stats on a DIFFERENT column, so key-range pruning must
# scan them conservatively), DELETION VECTORS (q148's merge-on-read
# delete), and MERGE/copy-on-write DML interleaved in random order
# against a plain dict reference model — with time travel re-checked
# at EVERY intermediate version at the end. The features are
# individually green; this interleaving is what found the round-13
# DV-resurrection bug (a CoW rewrite reading affected files raw
# resurrects DV-hidden rows; pinned deterministically in
# test_sql_dml.py::test_merge_does_not_resurrect_dv_deleted_rows).
# ---------------------------------------------------------------------------
M_COMPOSE = 24

compose_op = st.one_of(
    # MERGE upsert: random source keys, price = key + 0.5
    st.tuples(
        st.just("merge_upsert"),
        st.sets(st.integers(min_value=1, max_value=M_COMPOSE + 12),
                min_size=1, max_size=8),
    ),
    # MERGE delete-matched: random source keys
    st.tuples(
        st.just("merge_delete"),
        st.sets(st.integers(min_value=1, max_value=M_COMPOSE + 12),
                min_size=1, max_size=6),
    ),
    # merge-on-read DELETE: o_orderkey % p == r
    st.tuples(
        st.just("dv_delete"),
        st.tuples(st.integers(min_value=2, max_value=5),
                  st.integers(min_value=0, max_value=4)),
    ),
    # spec-evolved append: n fresh keys in files with stats on
    # o_totalprice ONLY (no o_orderkey stats -> conservative scans)
    st.tuples(st.just("spec_append"), st.integers(min_value=1, max_value=4)),
    # RESTORE to a random earlier snapshot (index taken mod the number
    # of snapshots so far): rolls data + DV bindings back in one
    # net-diff commit, then the run keeps mutating on top of it
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=7)),
    # REORG APPLY (PURGE): folds DVs into rewrites of only the bound
    # files — the model effect is NO effect (row-invisible), and every
    # earlier version must still time travel (purged files stay on
    # disk until vacuum)
    st.tuples(st.just("purge"), st.none()),
    # VACUUM: retention-bounded physical cleanup — retained snapshots
    # must still match the model EXACTLY (referenced files survive),
    # vacuumed ones must raise cleanly, and later restores may only
    # target retained versions
    st.tuples(st.just("vacuum"), st.integers(min_value=1, max_value=4)),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(compose_op, min_size=2, max_size=4))
# a wider retention after a narrower one once re-pinned a vacuumed commit
@example(ops=[("merge_upsert", {1}), ("vacuum", 1), ("vacuum", 2)])
def test_spec_dv_merge_interleaving_matches_model(
    spark, tmp_path_factory, ops
):
    import pyspark.sql.functions as F

    from hive_clone_spark.sqlapi import txlog_sql_dml
    from hive_clone_spark.sources.txlog import _bucket_stats, _with_bucket

    M = M_COMPOSE
    tl = TxLog(str(tmp_path_factory.mktemp("compose") / "log")).create()
    df = spark.range(1, M + 1).select(
        F.col("id").alias("o_orderkey"), (F.col("id") * 10.0).alias("o_totalprice")
    )
    bucketed = _with_bucket(df, M)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(bucketed, "bucket", _bucket_stats(bucketed)),
    )
    model: dict[int, float] = {k: k * 10.0 for k in range(1, M + 1)}
    snapshots: list[tuple[int, dict[int, float]]] = [
        (tl.latest_version(), dict(model))
    ]
    next_key = M + 100
    view_n = 0
    for kind, arg in ops:
        if kind == "merge_upsert":
            src = sorted(arg)
            view_n += 1
            spark.createDataFrame(
                [(k, k + 0.5) for k in src],
                "o_orderkey BIGINT, o_totalprice DOUBLE",
            ).createOrReplaceTempView(f"compose_src_{view_n}")
            txlog_sql_dml(
                spark, tl, max(model, default=M),
                f"MERGE INTO t USING compose_src_{view_n} AS s"
                " ON t.o_orderkey = s.o_orderkey"
                " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
                " WHEN NOT MATCHED THEN INSERT *",
            )
            for k in src:
                model[k] = k + 0.5
        elif kind == "merge_delete":
            src = sorted(arg)
            view_n += 1
            spark.createDataFrame(
                [(k, 0.0) for k in src],
                "o_orderkey BIGINT, o_totalprice DOUBLE",
            ).createOrReplaceTempView(f"compose_src_{view_n}")
            txlog_sql_dml(
                spark, tl, max(model, default=M),
                f"MERGE INTO t USING compose_src_{view_n} AS s"
                " ON t.o_orderkey = s.o_orderkey"
                " WHEN MATCHED THEN DELETE",
            )
            for k in src:
                model.pop(k, None)
        elif kind == "restore":
            # only retained versions are restorable (below the vacuum
            # cutoff the target is no longer replayable)
            cutoff = tl.versions()[0]
            eligible = [s for s in snapshots if s[0] >= cutoff]
            tgt_v, tgt_model = eligible[arg % len(eligible)]
            tl.restore(spark, tgt_v)
            model = dict(tgt_model)
        elif kind == "purge":
            tl.reorg_purge(spark)  # row-invisible: model unchanged
        elif kind == "vacuum":
            tl.vacuum(retain_versions=arg)
            continue  # not a commit: no new snapshot to record
        elif kind == "dv_delete":
            p, r = arg
            tl.delete_where_mor(
                spark, F.col("o_orderkey") % p == r, op="delete-dv"
            )
            for k in [k for k in model if k % p == r]:
                model.pop(k)
        else:  # spec_append: files carry o_totalprice stats only
            n = arg
            keys = list(range(next_key, next_key + n))
            next_key += n
            gen = spark.createDataFrame(
                [(k, k * 2.0, k % 2) for k in keys],
                "o_orderkey BIGINT, o_totalprice DOUBLE, bucket INT",
            )
            stats = {
                b: {
                    "o_totalprice": [
                        min(k * 2.0 for k in keys if k % 2 == b),
                        max(k * 2.0 for k in keys if k % 2 == b),
                    ]
                }
                for b in {k % 2 for k in keys}
            }
            tl.commit(
                "append-newspec",
                add=tl.stage_data_partitioned(gen, "bucket", stats),
            )
            for k in keys:
                model[k] = k * 2.0
        snapshots.append((tl.latest_version(), dict(model)))

    # every RETAINED intermediate version time-travels to its model
    # snapshot exactly; vacuumed ones raise cleanly instead of
    # returning partial data
    cutoff = tl.versions()[0]
    for v, snap in snapshots:
        if v < cutoff:
            with pytest.raises(ValueError, match="no commit"):
                tl.read(spark, v)
            continue
        got = {
            r["o_orderkey"]: r["o_totalprice"]
            for r in tl.read(spark, v).collect()
        }
        assert got == snap, (v, sorted(set(got) ^ set(snap)))
