"""Minimal log-structured table format: a JSON commit log over parquet
(the layer Delta Lake / Iceberg add to a bare parquet directory, reduced
to its load-bearing core).

The warehouse surface already has the MUTATION shapes — MERGE (q44),
compaction (q79), SCD2 (q73), CDC diff (q74), schema evolution (q58) —
but nothing tying them together transactionally. This module adds that
tie: a table is a `data/` directory of immutable parquet files plus a
`_txlog/` directory of numbered JSON commits, where each commit is an
atomic set of add/remove file actions. Everything the format guarantees
falls out of two properties:

  * **commits are ordinal and exclusive** — commit N is the file
    `_txlog/{N:08d}.json`, written whole to a temp file and then
    hard-linked to its final name, so two writers racing for version N
    get exactly one winner (optimistic concurrency; the loser re-reads
    and retries) and a crashed writer leaves no partial commit. On HDFS
    and local filesystems link-if-absent is atomic; object stores need
    a conditional-put / lock-service variant of the same contract.
  * **the active file set at version V is a pure fold over commits
    0..V** — so any reader can reconstruct any historical snapshot
    (time travel) without coordination, and concurrent readers never
    see a half-applied change (snapshot isolation: data files are
    immutable and a commit becomes visible only when its JSON appears).

Checkpoints (`{N:08d}.checkpoint.json`, every _CHECKPOINT_EVERY
commits) store the folded active set so replay cost is O(interval),
not O(history) — the same role Delta's parquet checkpoints play.

Scale notes (100 TB): the log records FILE-level actions, so commit
size is proportional to files touched, never rows; snapshot
reconstruction reads a handful of small JSON objects off the driver and
the actual data scan remains a fully parallel parquet read of the
active files. Compaction (q79's rewrite) and MERGE (q44's rewrite)
become single atomic commits — remove the rewritten files, add their
replacements — which is exactly how OPTIMIZE and MERGE commit in
production table formats.

Reference parity: the reference engine has no storage layer at all
(SURVEY.md §1 — in-memory `std::vector<Piece>`); this belongs to the
warehouse surface the driver contract adds.
"""

from __future__ import annotations

import copy
import json
import os
import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import spread
from hive_clone_spark.registry import register
from hive_clone_spark.session import local_rows

_CHECKPOINT_EVERY = 8


def _publish(path: pathlib.Path, payload: dict) -> None:
    """Write ``payload`` as JSON to ``path`` whole or not at all: into a
    temp file that no ``*.json`` glob matches, fsync'd, then hard-linked
    to ``path``. The link is an atomic put-if-absent (FileExistsError
    when ``path`` exists), so a writer that dies mid-write leaves at most
    an unreferenced temp file, never a torn ``path``."""
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


def _footer_minmax(path, col: str) -> tuple[int, int] | None:
    """[min, max] of integer column ``col`` from a parquet file's own
    FOOTER statistics — the stats a production writer harvests from the
    files it just wrote, at zero Spark jobs (Delta/Iceberg record
    exactly these in their add actions). Driver-side metadata read of
    one footer, O(row groups).

    Fails CLOSED: a range that is too narrow lets ``scan_files`` prune
    a file that holds matches, so any non-empty row group without a
    min/max (statistics absent, or present but lacking bounds while
    holding non-null values) makes the whole answer None. Only a row
    group whose null count equals its row count (all NULL) may be
    skipped. None — also for a file with no non-null value at all —
    means the add action records no stats and readers scan the file
    conservatively."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    try:
        idx = md.schema.names.index(col)
    except ValueError:
        return None
    mn = mx = None
    for rg in range(md.num_row_groups):
        meta = md.row_group(rg)
        st = meta.column(idx).statistics
        if st is None:
            if meta.num_rows:
                return None
            continue
        if not st.has_min_max:
            if st.has_null_count and st.null_count == meta.num_rows:
                continue  # all NULL: nothing a range predicate matches
            return None
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    if mn is None:
        return None
    return int(mn), int(mx)

# Sentinel distinguishing "caller said nothing about the schema" (fall
# back to the writer's staged stash) from an explicit ``schema=None``
# ("this commit makes NO schema change — and do not leak an unrelated
# stash into it"). See TxLog.commit.
_SCHEMA_UNSET: dict | None = object()  # type: ignore[assignment]


class CommitConflictError(Exception):
    """Another writer won this version — re-read the log and retry."""


class ConstraintViolationError(Exception):
    """Staged data violates a table CHECK constraint — commit refused.

    Carries ``violations``: {constraint name -> violating row count}."""

    def __init__(self, violations: dict[str, int]) -> None:
        self.violations = violations
        super().__init__(f"txlog: constraint violations {violations}")


class TxLog:
    """A log-structured parquet table rooted at ``root``."""

    def __init__(self, root: str) -> None:
        self.root = pathlib.Path(root)
        self.log_dir = self.root / "_txlog"
        self.data_dir = self.root / "data"
        self.dv_dir = self.root / "dv"
        # schema of the most recent stage_data* on THIS writer, pending
        # publication by its commit (see the schema-record section)
        self._staged_schema: dict | None = None
        # per-version fold memo: a commit, once written, is immutable,
        # so _replay(v) is a pure function of v while v exists. Only
        # THIS handle's vacuum drops entries: another TxLog on the same
        # root keeps serving memoized folds of versions vacuumed here.
        # The change feed and the version ledger replay the same
        # versions repeatedly — O(window x log) driver JSON parsing
        # without this (r13 advice).
        self._replay_cache: dict[int, tuple] = {}

    # -- log layout ---------------------------------------------------
    @staticmethod
    def _commit_name(version: int) -> str:
        return f"{version:08d}.json"

    def create(self) -> "TxLog":
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self.data_dir.mkdir(parents=True, exist_ok=True)
        self.dv_dir.mkdir(parents=True, exist_ok=True)
        return self

    def versions(self) -> list[int]:
        return sorted(
            int(p.name[:8])
            for p in self.log_dir.glob("*.json")
            if not p.name.endswith(".checkpoint.json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else -1

    def _read_commit(self, version: int) -> dict:
        with open(self.log_dir / self._commit_name(version)) as f:
            return json.load(f)

    # -- snapshot reconstruction --------------------------------------
    def _replay(
        self, version: int
    ) -> tuple[
        set[str],
        dict[str, dict],
        dict[str, str],
        dict[str, str],
        dict | None,
        dict,
    ]:
        """Fold (active files, per-file stats, per-file deletion
        vectors, constraints, logical schema, table metadata) up to
        ``version``, starting from the nearest checkpoint at or below
        it. Stats, DV bindings, the schema and the meta dict ride in
        checkpoints too, so replay NEVER reads commits below the
        checkpoint floor — after vacuum() those JSONs are gone, and a
        replay that started at commit 0 would crash on them (and lose
        any stats they carried). One fold serves every accessor
        (table_meta delegates here), so a snapshot read parses the
        checkpoint JSON exactly once.

        A ``dv`` action REBINDS a data file to a new deletion-vector
        sidecar (the writer merged old + new positions before writing
        it — Delta's DV protocol does the same superset-replace);
        removing a data file drops its DV binding. A ``schema`` action
        (Delta's metaData, Iceberg's per-snapshot schema-id) REPLACES
        the table's logical schema — versioned per commit, so time
        travel to an empty snapshot resolves the schema AS OF that
        version, never a later writer's."""
        if version in self._replay_cache:
            # deep copies: callers treat the fold, down to each file's
            # stats dict and the schema, as their own
            return copy.deepcopy(self._replay_cache[version])
        start, active, stats, dvs, cons, schema, meta = (
            0, [], {}, {}, {}, None, {},
        )
        for v in range(version, -1, -1):
            ckpt = self.log_dir / f"{v:08d}.checkpoint.json"
            if ckpt.exists():
                with open(ckpt) as f:
                    d = json.load(f)
                active = list(d["active"])
                stats = dict(d.get("stats", {}))
                dvs = dict(d.get("dvs", {}))
                cons = dict(d.get("constraints", {}))
                schema = d.get("schema")
                meta = dict(d.get("meta", {}))
                start = v + 1
                break
        files = set(active)
        for v in range(start, version + 1):
            try:
                c = self._read_commit(v)
            except FileNotFoundError:
                # below the vacuum cutoff with no checkpoint to fold
                # from: a clean error, not a FileNotFoundError leak
                # (active_files pre-checks versions(); dvs/constraints/
                # table_schema reach here directly)
                raise ValueError(
                    f"txlog: no commit {v} (vacuumed or never written)"
                ) from None
            for a in c.get("add", []):
                files.add(a["file"])
                if "stats" in a:
                    stats[a["file"]] = a["stats"]
            for r in c.get("remove", []):
                files.discard(r)
                stats.pop(r, None)
                dvs.pop(r, None)
            for d in c.get("dv", []):
                # dv: None UNBINDS (Delta's null deletionVector on a
                # re-add) — restore() uses it to re-expose rows a
                # post-target MoR delete had hidden
                if d["dv"] is None:
                    dvs.pop(d["file"], None)
                else:
                    dvs[d["file"]] = d["dv"]
            if "constraints" in c:
                cons = dict(c["constraints"])
            if "schema" in c:
                schema = c["schema"]
            if "meta" in c:
                meta = dict(c["meta"])
        fold = (files, stats, dvs, cons, schema, meta)
        self._replay_cache[version] = copy.deepcopy(fold)
        return fold

    def active_files(self, version: int | None = None) -> list[str]:
        """Fold add/remove actions up to ``version`` (default latest),
        starting from the nearest checkpoint at or below it."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return []
        if version not in set(self.versions()):
            raise ValueError(f"txlog: no commit {version}")
        files, _, _, _, _, _ = self._replay(version)
        return sorted(files)

    def history(self) -> list[dict]:
        return [
            {
                "version": v,
                "op": (c := self._read_commit(v)).get("op", ""),
                "n_added": len(c.get("add", [])),
                "n_removed": len(c.get("remove", [])),
            }
            for v in self.versions()
        ]

    # -- schema record ------------------------------------------------
    # A table emptied by DML (full-delete MERGE cascade, unconditional
    # DELETE) is a legal state, but a zero-file snapshot has no parquet
    # footer to infer a schema from. Production formats solve this by
    # versioning the logical schema in the log itself (Delta's metaData
    # action, Iceberg's per-snapshot schema id): here staging stashes
    # the frame's schema on the writer and the COMMIT publishes it as a
    # ``schema`` action, so (a) time travel to an empty version
    # resolves the schema as of THAT version, not whatever a later
    # writer staged, and (b) a losing/aborted optimistic writer (or a
    # branch stage) never alters main's logical schema — its schema
    # only lands if its commit does. The pre-r12 last-writer-wins
    # ``_schema.json`` sidecar is still READ as a legacy fallback.
    def _schema_path(self) -> pathlib.Path:
        return self.root / "_schema.json"

    def table_schema(self, spark: SparkSession, version: int | None = None):
        """Logical schema AS OF ``version`` (default latest): the
        newest ``schema`` commit action at or below it (folded through
        checkpoints), else the legacy sidecar, else the footer of the
        newest data file referenced at/below ``version`` that is still
        on disk (pre-schema-action logs), else None."""
        from pyspark.sql.types import StructType

        if version is None:
            version = self.latest_version()
        if version >= 0 and version in set(self.versions()):
            _, _, _, _, schema, _ = self._replay(version)
            if schema is not None:
                return StructType.fromJson(schema)
        p = self._schema_path()
        if p.exists():
            with open(p) as f:
                return StructType.fromJson(json.load(f))
        for v in reversed(self.versions()):
            if version >= 0 and v > version:
                continue
            c = self._read_commit(v)
            for a in reversed(c.get("add", [])):
                fp = self.root / a["file"]
                if fp.exists():
                    return spark.read.parquet(str(fp)).schema
        return None

    def empty_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        schema = self.table_schema(spark, version)
        if schema is None:
            raise ValueError("txlog: empty table with no recorded schema")
        return local_rows(spark, [], schema)

    def alter_add_column(self, spark: SparkSession, name: str, ddl_type: str) -> int:
        """Metadata-only schema evolution (Delta/Iceberg ADD COLUMN):
        publish a new logical schema with the appended nullable column
        in ONE commit — no data file is touched. Readers NULL-fill the
        column for files written before the ALTER (see _read_files);
        at 100 TB this is the difference between a millisecond commit
        and rewriting the table.

        Read-modify-write on the schema, so it uses the same optimistic
        expected_version + retry loop as every other RMW path: without
        the token, a schema-publishing commit landing between the read
        and this commit (another ALTER, a MERGE rewrite) would be
        silently clobbered — its column lost from the published schema.
        """
        from pyspark.sql.types import StructField, StructType

        # resolve the DDL type string through the engine's own parser
        dtype = spark.sql(f"SELECT CAST(NULL AS {ddl_type})").schema[0].dataType
        while True:
            expected = self.latest_version()
            schema = self.table_schema(spark, expected if expected >= 0 else None)
            if schema is None:
                raise ValueError("txlog: ALTER on a table with no schema")
            if name in schema.fieldNames():
                raise ValueError(f"txlog: column {name!r} already exists")
            new = StructType(
                list(schema.fields) + [StructField(name, dtype, True)]
            )
            # on a column-mapped table the new logical column gets a
            # FRESH physical name: a previously-dropped column of the
            # same logical name must never resurrect old file data
            meta = self.table_meta(expected)
            kwargs: dict = {}
            if "mapping" in meta:
                mapping = dict(meta["mapping"])
                mapping[name] = f"c-{uuid.uuid4().hex[:12]}"
                kwargs["meta"] = {**meta, "mapping": mapping}
            try:
                return self.commit(
                    "alter-add-column",
                    expected_version=expected,
                    schema=json.loads(new.json()),
                    **kwargs,
                )
            except CommitConflictError:
                continue

    def alter_rename_column(
        self, spark: SparkSession, old: str, new: str
    ) -> int:
        """Metadata-only RENAME COLUMN over the column-mapping protocol
        (Delta column mapping / Iceberg field-ids; the q231 machinery
        made first-class): data files keep their opaque PHYSICAL
        column names forever, so a rename is one commit updating the
        logical schema plus the logical->physical mapping — zero data
        files touched at any table size.

        A table without a mapping gets one ESTABLISHED here (physical
        names frozen at the current logical names, which is what the
        existing files carry). After that, writers must conform frames
        to physical names via ``to_physical`` before staging."""
        from pyspark.sql.types import StructField, StructType

        while True:
            expected = self.latest_version()
            schema = self.table_schema(spark, expected if expected >= 0 else None)
            if schema is None:
                raise ValueError("txlog: ALTER on a table with no schema")
            if old not in schema.fieldNames():
                raise ValueError(f"txlog: no column {old!r} to rename")
            if new in schema.fieldNames():
                raise ValueError(f"txlog: column {new!r} already exists")
            meta = self.table_meta(expected)
            mapping = dict(
                meta.get("mapping")
                or {f.name: f.name for f in schema.fields}
            )
            # a mapping may predate this column (q231-style tables
            # commit partial mappings): no entry means the physical
            # name IS the logical one
            mapping[new] = mapping.pop(old, old)
            renamed = StructType(
                [
                    StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            try:
                return self.commit(
                    "alter-rename-column",
                    expected_version=expected,
                    schema=json.loads(renamed.json()),
                    meta={**meta, "mapping": mapping},
                )
            except CommitConflictError:
                continue

    def alter_drop_column(self, spark: SparkSession, name: str) -> int:
        """Metadata-only DROP COLUMN: shrink the logical schema and
        retire the column's mapping entry in one commit — the bytes
        stay in the immutable files but no read ever projects them.
        Establishes a column mapping if the table has none, so a later
        ADD COLUMN of the SAME logical name binds a fresh physical
        name and can never resurrect the dropped column's data."""
        from pyspark.sql.types import StructType

        while True:
            expected = self.latest_version()
            schema = self.table_schema(spark, expected if expected >= 0 else None)
            if schema is None:
                raise ValueError("txlog: ALTER on a table with no schema")
            if name not in schema.fieldNames():
                raise ValueError(f"txlog: no column {name!r} to drop")
            if len(schema.fields) == 1:
                raise ValueError("txlog: cannot drop the only column")
            meta = self.table_meta(expected)
            mapping = dict(
                meta.get("mapping")
                or {f.name: f.name for f in schema.fields}
            )
            mapping.pop(name, None)
            shrunk = StructType([f for f in schema.fields if f.name != name])
            try:
                return self.commit(
                    "alter-drop-column",
                    expected_version=expected,
                    schema=json.loads(shrunk.json()),
                    meta={**meta, "mapping": mapping},
                )
            except CommitConflictError:
                continue

    def to_physical(
        self, df: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Conform a LOGICAL-named frame to the table's PHYSICAL column
        names as of ``version`` (default latest) before staging. A
        no-op for tables without a column mapping. NOTE: staging a
        physical-named frame stashes the PHYSICAL schema — a writer
        appending to a mapped table must pass the LOGICAL schema to
        commit() explicitly (or schema=None when unchanged) so the
        physical names never leak into the schema action."""
        mapping = self.table_meta(version).get("mapping")
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    # -- writing ------------------------------------------------------
    def stage_data(self, df: DataFrame, n_files: int | None = None) -> list[dict]:
        """Write ``df``'s rows as immutable parquet files under
        ``data/`` (staged via a scratch dir, then moved under unique
        names) and return their add-actions. Staging happens BEFORE the
        commit attempt — a losing writer leaves only unreferenced files
        (cleaned by vacuum in production formats), never a torn table."""
        if n_files is not None:
            df = df.repartition(n_files)
        self._staged_schema = json.loads(df.schema.json())
        stage = self.root / f"_stage-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(str(stage))
        adds = []
        for part in sorted(stage.glob("*.parquet")):
            name = f"{uuid.uuid4().hex}.parquet"
            os.replace(part, self.data_dir / name)
            adds.append({"file": f"data/{name}"})
        shutil.rmtree(stage)
        return adds

    def stage_data_partitioned(
        self,
        df: DataFrame,
        partition_col: str,
        stats_by_value: dict[int, dict[str, list]] | None = None,
        *,
        stats_col: str | None = None,
        stats_key: str | None = None,
        stats_values: "range | list[int] | None" = None,
    ) -> list[dict]:
        """Stage one parquet file PER distinct value of
        ``partition_col`` (hash repartition on the value + partitionBy
        write: each value lives in exactly one task, so each value dir
        gets exactly one file) and attach per-file column stats to the
        add actions — the data-skipping index every table format keeps.
        The repartition is ``pipeline.common.spread``'s explicit
        core-count one: AQE coalesces a bare ``repartition(col)`` of a
        small frame into ONE partition, and q148's 16 bucket files were
        then written one after another by a single 485 ms task at sf0.1.
        ``stats_by_value`` maps partition value -> {col: [min, max]}.

        ``stats_col`` harvests those per-file [min, max] stats straight
        from the PARQUET FOOTERS of the files the write just produced —
        zero extra Spark jobs (the input frame, often a rewrite over
        affected files, is computed EXACTLY ONCE, by the write). This
        is where production formats get add-action stats: the writer
        records its own footer min/max. Two rejected alternatives, both
        A/B'd: an Observation on the write (CollectMetrics evaluates
        its conditional min/max accumulators per row interpreted — q98
        noop 1.90 s vs 1.53 s) and a column-pruned Spark read-back of
        the staged files (correct, but one extra Spark job per staged
        commit — the r13 driver bench flagged the DML family for it).
        ``stats_values`` is accepted for API compatibility but unused —
        the footers see exactly the values present. ``stats_key``
        names the column in the recorded stats (default ``stats_col`` —
        pass the LOGICAL name when staging a physical-named frame of a
        mapped table)."""
        # partitionBy drops the partition column from the data files, so
        # the logical (read-side) schema excludes it
        self._staged_schema = json.loads(df.drop(partition_col).schema.json())
        stage = self.root / f"_stage-{uuid.uuid4().hex}"
        (
            spread(df, partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(str(stage))
        )
        key = stats_key or stats_col
        adds = []
        for vdir in sorted(stage.glob(f"{partition_col}=*")):
            value = int(vdir.name.split("=", 1)[1])
            parts = sorted(vdir.glob("*.parquet"))
            for part in parts:
                name = f"{uuid.uuid4().hex}.parquet"
                dest = self.data_dir / name
                os.replace(part, dest)
                add = {"file": f"data/{name}"}
                if stats_col is not None:
                    mnmx = _footer_minmax(dest, stats_col)
                    if mnmx is not None:
                        add["stats"] = {key: [mnmx[0], mnmx[1]]}
                elif stats_by_value and value in stats_by_value:
                    add["stats"] = stats_by_value[value]
                adds.append(add)
        shutil.rmtree(stage)
        return adds

    def scan_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """Stats-based file skipping: of the snapshot's active files,
        keep those whose recorded [min, max] for ``col`` intersects
        [lo, hi] (files without stats are scanned conservatively).
        Returns (all_active, chosen). Pure log-metadata work — no data
        file is opened to decide."""
        if version is None:
            version = self.latest_version()
        if version not in set(self.versions()):
            raise ValueError(f"txlog: no commit {version}")
        active, stats, _, _, _, _ = self._replay(version)
        chosen = []
        for f in sorted(active):
            s = stats.get(f, {}).get(col)
            if s is None or (s[0] <= hi and s[1] >= lo):
                chosen.append(f)
        return sorted(active), chosen

    def commit(
        self,
        op: str,
        add: list[dict] | None = None,
        remove: list[str] | None = None,
        expected_version: int | None = None,
        txn: str | None = None,
        dv: list[dict] | None = None,
        constraints: dict[str, str] | None = None,
        meta: dict | None = None,
        schema: dict | None = _SCHEMA_UNSET,
    ) -> int:
        """Atomically publish a commit at ``latest + 1``.

        ``expected_version`` is the optimistic-concurrency token: the
        version the writer READ before preparing its change. If someone
        else committed since (latest != expected), or two writers race
        for the same slot (the link loses), CommitConflictError — the
        caller re-reads, revalidates, and retries. ``txn`` stamps the
        commit with an application transaction id (see
        commit_idempotent). ``schema`` (default: the schema stashed by
        this writer's latest stage_data*) publishes the table's logical
        schema as a versioned commit action — it becomes visible only
        if THIS commit wins, never via staging alone. Passing
        ``schema=None`` EXPLICITLY publishes no schema action AND
        suppresses the staged fallback — the writer is asserting this
        commit does not change the table's logical schema (the
        publish-branch / insert-only-MERGE contract); only the omitted
        default reaches for the stash."""
        latest = self.latest_version()
        if expected_version is not None and latest != expected_version:
            raise CommitConflictError(
                f"txlog: expected version {expected_version}, found {latest}"
            )
        version = latest + 1
        payload = {
            "version": version,
            "op": op,
            "add": add or [],
            "remove": remove or [],
        }
        if schema is _SCHEMA_UNSET:
            schema = self._staged_schema
        if schema is not None:
            payload["schema"] = schema
        if dv:
            payload["dv"] = dv
        if constraints is not None:
            payload["constraints"] = constraints
        if meta is not None:
            payload["meta"] = meta
        if txn is not None:
            payload["txn"] = txn
        try:
            _publish(self.log_dir / self._commit_name(version), payload)
        except FileExistsError:
            raise CommitConflictError(
                f"txlog: version {version} was committed concurrently"
            ) from None
        self._staged_schema = None
        if version % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            self._write_checkpoint(version)
        return version

    def _write_checkpoint(self, version: int) -> None:
        # fold BEFORE publishing, and publish via rename: a reader
        # (or this fold itself) must never observe a half-written
        # checkpoint — only the commit log is load-bearing, the
        # checkpoint is a cache and appears atomically or not at all.
        # Per-file stats are folded in too, so scan_files never needs
        # commits below the checkpoint floor (they may be vacuumed).
        files, stats, dvs, cons, schema, meta = self._replay(version)
        tmp = self.log_dir / f".{version:08d}.checkpoint.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "active": sorted(files),
                    "stats": stats,
                    "dvs": dvs,
                    "constraints": cons,
                    "schema": schema,
                    "meta": meta,
                },
                f,
            )
        os.replace(tmp, self.log_dir / f"{version:08d}.checkpoint.json")

    def table_meta(self, version: int | None = None) -> dict:
        """Table-level metadata (column mapping, identity high-water
        mark, ...) at ``version``: the latest commit's ``meta`` dict at
        or below it, FULL-REPLACEMENT semantics like constraints.
        Folded into checkpoints, so replay starts at the checkpoint
        floor and survives vacuum."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return {}
        return self._replay(version)[5]

    def txn_applied(self, txn: str) -> bool:
        """Has a commit bearing this application txn id already landed?
        (Production formats keep the latest txn per app in checkpoints;
        this log scans its bounded history — same contract.)"""
        return any(self._read_commit(v).get("txn") == txn for v in self.versions())

    def commit_idempotent(
        self,
        txn: str,
        op: str,
        add: list[dict] | None = None,
        remove: list[str] | None = None,
    ) -> int | None:
        """Exactly-once sink contract (Delta's txnAppId/txnVersion
        pattern): a redelivered batch carrying an already-committed txn
        id is DROPPED — its staged files stay unreferenced (vacuum
        fodder) and the table state is unchanged. Returns the committed
        version, or None when the txn was already applied."""
        if self.txn_applied(txn):
            return None
        return self.commit(op, add=add, remove=remove, txn=txn)

    def append(self, df: DataFrame, n_files: int | None = None, op: str = "append") -> int:
        return self.commit(op, add=self.stage_data(df, n_files))

    def overwrite(self, df: DataFrame, n_files: int | None = None, op: str = "overwrite") -> int:
        """Transactional rewrite: replace the whole active set in one
        commit — the shape MERGE (q44) and compaction (q79) publish."""
        removes = self.active_files() if self.latest_version() >= 0 else []
        return self.commit(op, add=self.stage_data(df, n_files), remove=removes)

    # -- deletion vectors (merge-on-read DELETE) ----------------------
    def dvs(self, version: int | None = None) -> dict[str, str]:
        """Active deletion-vector bindings (data file -> DV sidecar
        relpath) at ``version``."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return {}
        active, _, dvs, _, _, _ = self._replay(version)
        return {f: p for f, p in dvs.items() if f in active}

    def _read_dv(self, relpath: str) -> list[int]:
        with open(self.root / relpath) as f:
            return list(json.load(f)["positions"])

    def _dv_frame(
        self, spark: SparkSession, dvs: dict[str, str]
    ) -> DataFrame:
        """Distributed ``(__file, __pos)`` frame of the row positions
        hidden by the given DV bindings {data file -> sidecar relpath}.
        The sidecars are read as a JSON FILE SOURCE (explicit schema,
        so no inference job) and exploded executor-side — positions
        are never materialized on the driver, so a billion-row delete
        stays a distributed read of its bitmap sidecars, exactly how a
        production reader consumes roaring-bitmap DVs. ``__file`` is
        the DATA file's basename (what ``_apply_dvs`` matches on); the
        sidecar-to-data-file binding is METADATA (O(files touched), a
        commit-log fact), so the tiny binding relation is the only
        driver-side piece. It is a ``LocalRelation`` (``local_rows``):
        the broadcast reads it in the JVM with no Python stage, where a
        ``createDataFrame(list)`` binding ran a 4-task Python-worker
        stage on every action, 0.5–0.7 s per collect of q148 at sf0.1.
        FAILFAST: a corrupt sidecar must fail the read, never parse as
        null positions and un-delete rows."""
        binding = local_rows(
            spark,
            [
                (pathlib.Path(dv).name, pathlib.Path(f).name)
                for f, dv in dvs.items()
            ],
            "__dv string, __file string",
        )
        raw = (
            spark.read.schema("positions array<bigint>")
            .option("mode", "FAILFAST")
            .json([str(self.root / dv) for dv in dvs.values()])
            .select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__dv"),
                F.explode("positions").alias("__pos"),
            )
        )
        return raw.join(F.broadcast(binding), "__dv").select(
            "__file", "__pos"
        )

    def _write_dv(self, data_file: str, positions: list[int]) -> str:
        """One immutable DV sidecar: the SORTED row positions deleted
        from ``data_file``. Production formats use a roaring bitmap in
        a sidecar file; a sorted position list is the same contract at
        the fidelity this log needs."""
        name = f"{uuid.uuid4().hex}.json"
        _publish(
            self.dv_dir / name,
            {"file": data_file, "positions": sorted(positions)},
        )
        return f"dv/{name}"

    def delete_where_mor(
        self,
        spark: SparkSession,
        predicate: F.Column,
        stats_col: str | None = None,
        lo=None,
        hi=None,
        op: str = "delete-dv",
    ) -> int:
        """Merge-on-read row-level DELETE: instead of rewriting the
        files that hold matches (q125's copy-on-write), write a
        deletion-vector sidecar per affected file — the row POSITIONS
        to hide — and commit only the DV rebindings. No data file is
        written or removed; the delete costs O(matches), not O(files
        containing matches). This is the GDPR-delete shape at 100 TB:
        deleting one user's rows from a petabyte table writes kilobytes
        of bitmaps, and compaction later folds DVs into rewrites.

        Positions come from the parquet scan's ``_metadata.row_index``
        (stable because data files are immutable), so the matching scan
        is fully distributed and split-safe. When ``stats_col``/lo/hi
        are given, skipping stats bound the scan to candidate files —
        metadata-only pruning before any data read. Commits use the
        optimistic-concurrency retry loop; a new DV for a file REPLACES
        the old one after merging positions (superset-replace, like
        Delta's DV protocol), so concurrent deletes serialize cleanly.
        """
        while True:
            expected = self.latest_version()
            if stats_col is not None:
                _all, cand = self.scan_files(
                    stats_col, lo, hi, version=expected
                )
            else:
                cand = self.active_files(expected)
            if not cand:
                return expected
            _, _, dvs, _, _, _ = self._replay(expected)
            # basename keying, mapped back to the ACTIVE file key: on a
            # shallow clone the active set holds absolute source paths,
            # and a binding keyed any other way would be invisible to
            # dvs()'s active-file filter
            base_map = {pathlib.Path(f).name: f for f in cand}
            src = spark.read.parquet(
                *[str(self.root / f) for f in cand]
            ).select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
                "*",
            )
            hits = (
                src.where(predicate)
                .groupBy("__file")
                .agg(F.sort_array(F.collect_list("__pos")).alias("ps"))
                .collect()
            )
            actions = []
            for r in hits:
                fkey = base_map[r["__file"]]
                prior = (
                    set(self._read_dv(dvs[fkey])) if fkey in dvs else set()
                )
                merged = sorted(prior | {int(p) for p in r["ps"]})
                actions.append(
                    {
                        "file": fkey,
                        "dv": self._write_dv(fkey, merged),
                        "n_deleted": len(merged),
                    }
                )
            try:
                return self.commit(
                    op, dv=actions, expected_version=expected
                )
            except CommitConflictError:
                continue  # orphaned DV sidecars await vacuum

    # -- CHECK constraints (commit-time enforcement) ------------------
    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Active table CHECK constraints (name -> SQL predicate) at
        ``version`` — table metadata folded through replay and
        checkpoints like any other action."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return {}
        _, _, _, cons, _, _ = self._replay(version)
        return cons

    def set_constraints(
        self,
        constraints: dict[str, str],
        expected_version: int | None = None,
    ) -> int:
        """Publish the table's CHECK constraint set as a metadata-only
        commit (Delta's ADD CONSTRAINT). The new set REPLACES the old;
        existing data is assumed valid (production engines validate
        history once at ALTER time — here the caller does).
        ``expected_version`` is the usual optimistic token: a caller
        composing read-modify-write ({**constraints(), new}) passes the
        version it read so a concurrent constraint change conflicts
        instead of being clobbered."""
        return self.commit(
            "set-constraints",
            constraints=constraints,
            expected_version=expected_version,
        )

    def commit_checked(
        self,
        spark: SparkSession,
        op: str,
        add: list[dict],
        remove: list[str] | None = None,
        expected_version: int | None = None,
        **commit_kwargs,
    ) -> int:
        """Commit gated on the table's CHECK constraints: the STAGED
        add files (only — existing data is valid by induction, so
        enforcement cost is O(new data), never O(table)) are scanned
        and every constraint counted; any violation refuses the whole
        commit atomically (ConstraintViolationError; the staged files
        stay orphaned for vacuum) and the table is untouched. This is
        Delta/production CHECK-constraint enforcement: a distributed
        predicate scan over the increment inside the commit protocol.
        """
        cons = self.constraints()
        if cons and add:
            staged = spark.read.parquet(
                *[str(self.root / a["file"]) for a in add]
            )
            # constraints speak LOGICAL names; staged files on a
            # column-mapped table carry physical ones
            mapping = self.table_meta().get("mapping") or {}
            inv = {v: k for k, v in mapping.items() if v != k}
            if inv:
                staged = staged.select(
                    *[
                        F.col(c).alias(inv.get(c, c))
                        for c in staged.columns
                    ]
                )
            counts = staged.agg(
                *[
                    F.sum(
                        F.when(~F.expr(pred), 1).otherwise(0)
                    ).alias(name)
                    for name, pred in cons.items()
                ]
            ).collect()[0]
            violations = {
                name: int(counts[name] or 0)
                for name in cons
                if int(counts[name] or 0) > 0
            }
            if violations:
                raise ConstraintViolationError(violations)
        return self.commit(
            op,
            add=add,
            remove=remove,
            expected_version=expected_version,
            **commit_kwargs,
        )

    # -- branches (write-audit-publish) -------------------------------
    # A branch is an independent commit chain LAYERED on a pinned main
    # snapshot (Iceberg branch refs, Delta's WAP pattern): branch
    # commits reference staged data files exactly like main commits,
    # but fold on top of the base version, so main readers never see
    # in-audit data. Publishing fast-forwards main with the branch's
    # NET file diff in one atomic commit — file identity is preserved
    # (no rewrite), which is what makes WAP free at 100 TB: audit and
    # publish are metadata operations, the data bytes move once.
    def _branch_dir(self, name: str) -> pathlib.Path:
        return self.log_dir / "branches" / name

    def create_branch(self, name: str, from_version: int | None = None) -> None:
        if from_version is None:
            from_version = self.latest_version()
        d = self._branch_dir(name)
        (d / "commits").mkdir(parents=True, exist_ok=False)
        with open(d / "ref.json", "w") as f:
            json.dump({"base": from_version}, f)

    def branch_base(self, name: str) -> int:
        with open(self._branch_dir(name) / "ref.json") as f:
            return int(json.load(f)["base"])

    def branch_versions(self, name: str) -> list[int]:
        return sorted(
            int(p.name[:8])
            for p in (self._branch_dir(name) / "commits").glob("*.json")
        )

    def branch_replay(
        self, name: str, bversion: int | None = None
    ) -> tuple[set[str], dict[str, dict], dict[str, str], dict | None]:
        """Branch snapshot = main fold at the base version, then the
        branch's own commits applied with the same action rules."""
        base = self.branch_base(name)
        files, stats, dvs, _, schema, _ = (
            self._replay(base)
            if base >= 0
            else (set(), {}, {}, {}, None, {})
        )
        if bversion is None:
            # a freshly created branch has NO commits yet: its snapshot
            # is exactly the base fold (upto -1 skips the replay loop)
            vs = self.branch_versions(name)
            upto = vs[-1] if vs else -1
        else:
            upto = bversion
        for v in self.branch_versions(name):
            if v > upto:
                break
            with open(
                self._branch_dir(name) / "commits" / self._commit_name(v)
            ) as f:
                c = json.load(f)
            for a in c.get("add", []):
                files.add(a["file"])
                if "stats" in a:
                    stats[a["file"]] = a["stats"]
            for r in c.get("remove", []):
                files.discard(r)
                stats.pop(r, None)
                dvs.pop(r, None)
            for d in c.get("dv", []):
                if d["dv"] is None:  # unbind (see _replay)
                    dvs.pop(d["file"], None)
                else:
                    dvs[d["file"]] = d["dv"]
            if "schema" in c:
                schema = c["schema"]
        return files, stats, dvs, schema

    def branch_commit(
        self,
        name: str,
        op: str,
        add: list[dict] | None = None,
        remove: list[str] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Same exclusive-create contract as main commits, scoped to
        the branch's chain — concurrent branch writers race on the
        branch slot, never on main's. A staged schema publishes into
        the BRANCH chain only: main's logical schema is untouched until
        publish_branch carries it over."""
        vs = self.branch_versions(name)
        latest = vs[-1] if vs else -1
        if expected_version is not None and latest != expected_version:
            raise CommitConflictError(
                f"txlog branch {name}: expected {expected_version}, "
                f"found {latest}"
            )
        version = latest + 1
        path = self._branch_dir(name) / "commits" / self._commit_name(version)
        payload = {
            "version": version,
            "op": op,
            "add": add or [],
            "remove": remove or [],
        }
        if self._staged_schema is not None:
            payload["schema"] = self._staged_schema
        try:
            _publish(path, payload)
        except FileExistsError:
            raise CommitConflictError(
                f"txlog branch {name}: version {version} committed "
                "concurrently"
            ) from None
        self._staged_schema = None
        return version

    def branch_read(self, spark: SparkSession, name: str) -> DataFrame:
        from pyspark.sql.types import StructType

        files, _, dvs, schema = self.branch_replay(name)
        if not files and schema is not None:
            return local_rows(spark, [], StructType.fromJson(schema))
        return self._read_files(spark, sorted(files), dvs)

    def publish_branch(
        self, name: str, expected_version: int | None = None
    ) -> int:
        """Fast-forward publish: one atomic main commit carrying the
        branch's NET file diff against the current main snapshot. The
        optimistic token (normally the branch's base) makes WAP safe:
        if main moved during the audit, the publish conflicts and the
        writer rebases instead of silently clobbering.

        The publish carries a schema action ONLY when the branch chain
        CHANGED the schema relative to its base fold. Branch data
        commits always restate the staged frame's schema into the
        branch chain, so presence alone is not signal: republishing a
        mere restatement of the base schema on a rebase-style publish
        (expected_version = current latest) would silently revert any
        schema change that landed on main after the branch was cut
        (e.g. an ALTER ADD COLUMN). ``schema=None`` also suppresses
        commit()'s staged-stash fallback, so an unrelated pending
        stage_data can never leak into the publish commit."""
        bfiles, bstats, _, bschema = self.branch_replay(name)
        base = self.branch_base(name)
        base_schema = self._replay(base)[4] if base >= 0 else None

        # "changed" must be STRUCTURAL (names + types), not raw-dict
        # equality: a branch writer restaging frames derived from
        # tl.read() picks up cosmetic nullability drift, and treating
        # that as a schema change would republish the stale branch
        # schema on a rebase-style publish — silently reverting a
        # concurrent main-side ALTER (the exact clobber this guard
        # exists to prevent)
        def _shape(sj: dict | None):
            if sj is None:
                return None
            from pyspark.sql.types import StructType

            return [
                (f.name, f.dataType.simpleString())
                for f in StructType.fromJson(sj).fields
            ]

        if _shape(bschema) == _shape(base_schema):
            bschema = None  # no branch-side schema change to carry
        main = set(self.active_files()) if self.latest_version() >= 0 else set()
        adds = [
            {"file": f, **({"stats": bstats[f]} if f in bstats else {})}
            for f in sorted(bfiles - main)
        ]
        removes = sorted(main - bfiles)
        return self.commit(
            f"publish-{name}",
            add=adds,
            remove=removes,
            expected_version=expected_version,
            schema=bschema,
        )

    # -- maintenance --------------------------------------------------
    def vacuum(self, retain_versions: int) -> dict:
        """Retention-bounded physical cleanup: keep the newest
        ``retain_versions`` versions readable, delete everything else —
        data files referenced ONLY by expired versions, and the expired
        commits themselves (a checkpoint is first pinned at the cutoff
        so retained replay never needs them). Time travel below the
        cutoff becomes a clean error; this is the trade every
        production format's VACUUM makes explicit. The error is this
        handle's only: another TxLog on the same root still serves the
        folds it memoized for vacuumed versions (files may be gone)."""
        if retain_versions < 1:
            raise ValueError("txlog: must retain at least 1 version")
        latest = self.latest_version()
        if latest < 0:
            return {"cutoff": -1, "n_data_files_removed": 0, "n_commits_removed": 0}
        # never below the oldest commit left: an earlier vacuum already
        # dropped what lies under it and pinned a checkpoint at it
        versions = self.versions()
        cutoff = max(versions[0], latest - retain_versions + 1)
        retained = [v for v in versions if v >= cutoff]
        referenced: set[str] = set()
        referenced_dvs: set[str] = set()
        for v in retained:
            referenced.update(self.active_files(v))
            referenced_dvs.update(self.dvs(v).values())
        # pin the cutoff checkpoint (incl. stats) BEFORE dropping older
        # commits, so retained replay never reads below the cutoff
        ckpt = self.log_dir / f"{cutoff:08d}.checkpoint.json"
        if not ckpt.exists():
            self._write_checkpoint(cutoff)
        n_files = 0
        for part in self.data_dir.glob("*.parquet"):
            if f"data/{part.name}" not in referenced:
                part.unlink()
                n_files += 1
        if self.dv_dir.exists():
            for dvf in self.dv_dir.glob("*.json"):
                if f"dv/{dvf.name}" not in referenced_dvs:
                    dvf.unlink()
                    n_files += 1
        n_commits = 0
        for v in self.versions():
            if v < cutoff:
                (self.log_dir / self._commit_name(v)).unlink()
                old_ckpt = self.log_dir / f"{v:08d}.checkpoint.json"
                if old_ckpt.exists():
                    old_ckpt.unlink()
                n_commits += 1
        # vacuumed versions must ERROR on access, not serve a memoized
        # pre-vacuum fold — drop their cache entries
        self._replay_cache = {
            v: r for v, r in self._replay_cache.items() if v >= cutoff
        }
        return {
            "cutoff": cutoff,
            "n_data_files_removed": n_files,
            "n_commits_removed": n_commits,
        }

    def restore(self, spark: SparkSession, to_version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF (Delta parity): publish
        ONE commit that makes ``to_version``'s snapshot the table's
        latest state — data files, deletion-vector bindings, logical
        schema, CHECK constraints, and table metadata (column mapping)
        all roll back together. The log stays append-only: the restore
        is a NEW version, so time travel between ``to_version`` and
        the restore still sees the undone commits, and the change feed
        reports the restore's row-level effect like any other commit.

        The identity high-water mark (``identity_next``) is NOT rolled
        back — Delta makes the same carve-out — so ids handed out by
        undone commits are never re-issued.

        Guards: restoring below the vacuum cutoff errors (the target
        version is no longer replayable); a target data file or DV
        sidecar missing on disk (e.g. the SOURCE of a shallow clone
        vacuumed it) errors before anything is committed.

        Scale: the commit is a file-level NET diff — cost proportional
        to files that changed since ``to_version``, never to table
        size; zero data files are read or written.
        """
        while True:
            expected = self.latest_version()
            if to_version not in set(self.versions()):
                raise ValueError(
                    f"txlog: cannot restore to version {to_version} — "
                    "no such commit (vacuumed or never written)"
                )
            tgt_files, tgt_stats, tgt_dvs, tgt_cons, tgt_schema, _tm = (
                self._replay(to_version)
            )
            cur_files, _, cur_dvs, _, _, cur_meta = self._replay(expected)
            missing = [
                f for f in sorted(tgt_files)
                if not (self.root / f).exists()
            ] + [
                d for _, d in sorted(tgt_dvs.items())
                if not (self.root / d).exists()
            ]
            if missing:
                raise ValueError(
                    "txlog: cannot restore to version "
                    f"{to_version} — {len(missing)} referenced file(s) "
                    f"no longer on disk (first: {missing[0]})"
                )
            add = [
                {"file": f, **(
                    {"stats": tgt_stats[f]} if f in tgt_stats else {}
                )}
                for f in sorted(tgt_files - cur_files)
            ]
            remove = sorted(cur_files - tgt_files)
            # net DV diff over files live in the TARGET snapshot:
            # rebind where the target binding differs, unbind (None)
            # where the target had none but the current state does
            dv_actions = []
            for f in sorted(tgt_files):
                tgt_dv = tgt_dvs.get(f)
                cur_dv = cur_dvs.get(f) if f in cur_files else None
                if tgt_dv != cur_dv:
                    dv_actions.append({"file": f, "dv": tgt_dv})
            # tgt_schema None (pre-schema-action legacy log): publish
            # NO schema action. table_schema()'s legacy sidecar is
            # last-writer-wins and IGNORES the version argument, so
            # "resolving" it here could stamp a post-target schema
            # into the restore; leaving no action keeps legacy reads
            # on their existing (sidecar) rules, unchanged.
            tgt_meta = dict(_tm)
            cur_next = cur_meta.get("identity_next")
            if cur_next is not None:
                tgt_meta = {
                    **tgt_meta,
                    "identity_next": max(
                        int(cur_next),
                        int(tgt_meta.get("identity_next", 0)),
                    ),
                }
            try:
                return self.commit(
                    "restore",
                    add=add,
                    remove=remove,
                    dv=dv_actions or None,
                    constraints=tgt_cons,
                    meta=tgt_meta,
                    schema=tgt_schema,
                    expected_version=expected,
                )
            except CommitConflictError:
                continue

    def reorg_purge(
        self,
        spark: SparkSession,
        n_files: int | None = None,
        stage=None,
    ) -> int:
        """Delta's ``REORG TABLE ... APPLY (PURGE)``: materialize
        merge-on-read deletes by rewriting ONLY the files that carry a
        deletion-vector binding — each rewrite keeps the surviving rows
        and drops the binding — in one atomic commit. Untouched files
        (the overwhelming majority after a targeted GDPR-style delete)
        are not read, not written, and not mentioned in the commit:
        cost is proportional to DV-bound files, never table size.

        ``stage`` (optional) overrides how survivors are staged —
        pass a callable returning add-actions to preserve a bucketed
        layout and its skipping stats; the default restages into
        ``n_files`` (default: one per rewritten file) without stats.
        On column-mapped tables survivors are read at logical names
        and re-staged at physical ones; the logical schema is
        unchanged, so no schema action is published.

        Returns the committed version, or the current version when no
        file is DV-bound (nothing to purge)."""
        while True:
            expected = self.latest_version()
            if expected < 0:
                return expected
            files, _, dvs_map, _, _, pmeta = self._replay(expected)
            bound = sorted(f for f in files if f in dvs_map)
            if not bound:
                return expected
            survivors = self._read_files(
                spark,
                bound,
                {f: dvs_map[f] for f in bound},
                version=expected,
            )
            mapped = bool(pmeta.get("mapping"))
            out = (
                self.to_physical(survivors, expected)
                if mapped
                else survivors
            )
            adds = (
                stage(out)
                if stage is not None
                else self.stage_data(out, n_files or len(bound))
            )
            try:
                return self.commit(
                    "reorg-purge",
                    add=adds,
                    remove=bound,
                    expected_version=expected,
                    schema=None,
                )
            except CommitConflictError:
                continue

    # -- reading ------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read at ``version``: the active files, minus any
        rows hidden by that version's deletion vectors. Without DVs the
        plan is a bare parquet scan (the common fast path). With DVs,
        each row's (file, ``_metadata.row_index``) is anti-joined
        against the broadcast DV positions — relationally what a
        production reader does with a pushed-down per-file bitmap
        filter; positions are scan-order stable because data files are
        immutable."""
        if version is None:
            version = self.latest_version()
        return self._read_files(
            spark,
            self.active_files(version),
            self.dvs(version),
            version=version,
        )

    def _read_files(
        self,
        spark: SparkSession,
        rel_files: list[str],
        dvs: dict[str, str],
        version: int | None = None,
    ) -> DataFrame:
        files = [str(self.root / f) for f in rel_files]
        if not files:
            # a table whose rows were all deleted is a legal state —
            # an empty frame at the logical schema AS OF the requested
            # version (a later writer's schema must not leak back)
            return self.empty_df(spark, version)
        reader = spark.read
        mapping: dict[str, str] = {}
        if version is not None:
            # read at the LOGICAL schema as of the version: the
            # parquet reader NULL-fills columns a file predates
            # (metadata-only ADD COLUMN) — the production
            # schema-evolution read, no mergeSchema footer sweep.
            # Column-mapped tables (ALTER RENAME/DROP) scan at the
            # PHYSICAL names the files carry; the rename back to
            # logical names happens after any DV filtering below —
            # still a metadata-only projection, zero extra passes.
            ls, mapping = self._log_schema_at(version)
            if ls is not None:
                reader = reader.schema(ls)
        df = reader.parquet(*files)

        def _to_logical(out: DataFrame) -> DataFrame:
            if not mapping:
                return out
            inv = {v: k for k, v in mapping.items()}
            return out.select(
                *[F.col(c).alias(inv.get(c, c)) for c in out.columns]
            )

        active_dvs = {f: p for f, p in dvs.items() if f in set(rel_files)}
        return _to_logical(self._apply_dvs(spark, df, active_dvs))

    def _log_schema_at(
        self, version: int
    ) -> tuple["StructType | None", dict[str, str]]:
        """(physical read schema, logical->physical rename mapping) as
        of ``version``, resolved from the LOG: the logical schema at
        that version with column-mapped fields renamed to the PHYSICAL
        names the data files carry. ``(None, {})`` when the log holds
        no schema action at ``version`` (pre-schema-action legacy
        logs) — callers fall back to footer inference. ONE rule shared
        by _read_files and _scan_files_at (r13 advice: two verbatim
        copies of the rename rule could drift); the _replay memo makes
        repeated per-version resolution (change feed windows) a dict
        hit, not a log re-fold."""
        from pyspark.sql.types import StructField, StructType

        if not (0 <= version and version in set(self.versions())):
            return None, {}
        _, _, _, _, logical, vmeta = self._replay(version)
        if logical is None:
            return None, {}
        ls = StructType.fromJson(logical)
        mapping = {
            k: v
            for k, v in vmeta.get("mapping", {}).items()
            if k in ls.fieldNames() and v != k
        }
        if mapping:
            ls = StructType(
                [
                    StructField(
                        mapping.get(f.name, f.name), f.dataType, f.nullable
                    )
                    for f in ls.fields
                ]
            )
        return ls, mapping

    def _scan_files_at(
        self, spark: SparkSession, rel_files: list[str], version: int
    ) -> DataFrame:
        """Raw file scan (no DV filtering) whose schema comes from the
        LOG, not a footer sweep: the logical schema AS OF ``version``
        renamed to the physical names the files carry (the _read_files
        rule). The parquet reader NULL-fills columns a file predates —
        what ``option(mergeSchema)`` reconstructed by reading every
        footer (a small Spark job per read site; at scale, a pass over
        every file's metadata). Falls back to mergeSchema when the log
        carries no schema at ``version`` (pre-schema-action logs)."""
        files = [str(self.root / f) for f in rel_files]
        ls, _ = self._log_schema_at(version)
        if ls is not None:
            return spark.read.schema(ls).parquet(*files)
        return spark.read.option("mergeSchema", "true").parquet(*files)

    def _apply_dvs(
        self, spark: SparkSession, df: DataFrame, dvs: dict[str, str]
    ) -> DataFrame:
        """Hide the rows named by the given deletion-vector bindings:
        (file, ``_metadata.row_index``) anti-joined against the
        broadcast DV positions. ``df`` must be a raw file-source scan
        (the ``_metadata`` pseudo-column must still resolve). Rows are
        matched on the file BASENAME (uuid-unique by construction), so
        bindings keyed by relative ``data/...`` paths and by the
        absolute paths a shallow clone records both resolve."""
        if not dvs:
            return df
        dv_df = self._dv_frame(spark, dvs)
        src = df.select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        return src.join(
            F.broadcast(dv_df), ["__file", "__pos"], "left_anti"
        ).drop("__file", "__pos")

    def change_feed(
        self,
        spark: SparkSession,
        key: str,
        from_version: int = -1,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change-data feed derived purely from commit
        actions (Delta's CHANGE DATA FEED, reconstructed): for every
        commit in (from_version, to_version], read ONLY the files that
        commit added/removed and diff them on ``key`` (assumed unique
        per snapshot — the table's primary key). Copy-on-write rewrites
        carry the untouched rows on both sides, so the full-outer join
        cancels them and what survives is exactly the row-level change:

          * key only in added files          -> ``insert``
          * key only in removed files        -> ``delete``
          * key on both sides, rows differ   -> ``update_preimage``
                                                + ``update_postimage``

        Deletion vectors compose (Delta's CDF does the same): a ``dv``
        action emits ``delete`` rows for exactly the positions it
        NEWLY hides (new minus previously-bound positions — the
        superset-replace protocol makes that diff exact), and both
        sides of a copy-on-write diff are read MINUS the DVs in force
        just before the commit, so rows a prior merge-on-read DELETE
        hid are never re-reported as this commit's deletes.

        Column-mapped tables (ALTER RENAME/DROP) feed at the LOGICAL
        schema as of the window end — physical file columns are
        projected back, so ``key`` is always a logical name.

        Scale design: feed cost is proportional to the files each
        commit TOUCHED (which stats-based skipping already minimized),
        never to table size — the whole point of deriving CDC from the
        log instead of diffing two snapshots (q91/q74 diff snapshots;
        at 100 TB that is two full scans per feed pull, this is not).
        The per-commit join shuffles only rewritten rows on the key;
        a pure append commit never pays the prior-DV fold.
        """
        if to_version is None:
            to_version = self.latest_version()
        vs = self.versions()
        # a feed window reaching the vacuum cutoff or below must ERROR,
        # not silently return a partial history (Delta refuses CDF
        # below the retention floor for the same reason: the consumer
        # would apply an incomplete change set as if it were complete).
        # The CUTOFF VERSION ITSELF is not feedable either: its diff
        # needs the DV state at cutoff-1 and the content of files it
        # removed — both physically gone after vacuum — so the first
        # feedable version is cutoff+1.
        if (
            vs
            and vs[0] > 0
            and from_version < vs[0]
            and from_version + 1 <= to_version
        ):
            raise ValueError(
                f"txlog: change feed from version {from_version + 1} "
                f"reaches the vacuum cutoff {vs[0]} (history below it, "
                "and the cutoff's own pre-state, were vacuumed)"
            )
        # the feed speaks the LOGICAL schema as of the window end:
        # data files on a column-mapped table (ALTER RENAME/DROP)
        # carry physical names, so every frame is projected back
        # before tagging — same metadata-only rename _read_files does
        inv_map = {
            p: l
            for l, p in (
                self.table_meta(to_version).get("mapping") or {}
            ).items()
            if p != l
        }

        def _to_log(df: DataFrame) -> DataFrame:
            if not inv_map:
                return df
            return df.select(
                *[F.col(c).alias(inv_map.get(c, c)) for c in df.columns]
            )

        feeds: list[DataFrame] = []
        for v in vs:
            if v <= from_version or v > to_version:
                continue
            c = self._read_commit(v)
            adds = [a["file"] for a in c.get("add", [])]
            removes = c.get("remove", [])
            adds_set = set(adds)
            # DVs in force BEFORE this commit: filter both diff sides
            # (a removed file's DV-hidden rows were already fed as
            # deletes at their dv commit) and diff dv actions against.
            # The fold is lazy — a pure append commit never pays it.
            dv_acts = [
                d for d in c.get("dv", []) if d["file"] not in adds_set
            ]
            prev_dvs = (
                self.dvs(v - 1) if v > 0 and (removes or dv_acts) else {}
            )
            # a restore() may bind a DV in the same commit that re-ADDS
            # the file: the binding's effect is already captured by
            # filtering the insert side below, so the diff loop skips it
            this_add_dvs = {
                d["file"]: d["dv"]
                for d in c.get("dv", [])
                if d["file"] in adds_set and d["dv"] is not None
            }
            # dv: None unbinds (restore re-exposing rows) — re-exposed
            # positions feed as inserts, the symmetric image of the
            # MoR-delete case. All actions of a commit share ONE scan
            # and ONE broadcast join per tag, so feed planning cost is
            # O(commit), not O(dv actions). The new-minus-old position
            # diff itself runs IN SPARK (anti-join of the sidecar
            # frames): positions never land on the driver, so a
            # billion-row delete feeds without a billion-element list.
            # Candidate files per tag come from commit METADATA alone:
            # a dv action can newly HIDE positions only where it binds
            # a sidecar (new_bind) and newly EXPOSE positions only
            # where a prior binding existed (old_bind) — an empty diff
            # on a candidate just contributes zero rows.
            new_bind = {
                d["file"]: d["dv"] for d in dv_acts if d["dv"] is not None
            }
            old_bind = {
                d["file"]: prev_dvs[d["file"]]
                for d in dv_acts
                if d["file"] in prev_dvs
            }
            for tag in ("delete", "insert"):
                pos_bind, sub_bind = (
                    (new_bind, old_bind)
                    if tag == "delete"
                    else (old_bind, new_bind)
                )
                if not pos_bind:
                    continue
                pos_df = self._dv_frame(spark, pos_bind)
                sub = {
                    f: p for f, p in sub_bind.items() if f in pos_bind
                }
                if sub:
                    pos_df = pos_df.join(
                        self._dv_frame(spark, sub),
                        ["__file", "__pos"],
                        "left_anti",
                    )
                scan = self._scan_files_at(spark, sorted(pos_bind), v)
                src = scan.select(
                    "*",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).alias("__file"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
                feeds.append(
                    _to_log(
                        src.join(
                            F.broadcast(pos_df), ["__file", "__pos"], "left_semi"
                        ).drop("__file", "__pos")
                    ).select(
                        F.lit(v).cast("long").alias("_version"),
                        F.lit(tag).alias("_change_type"),
                        "*",
                    )
                )
            # a commit may mix files written under different layouts
            # (partitionBy strips the partition column; schema
            # evolution adds columns) — the log's schema AS OF each
            # side's version resolves that deterministically without a
            # per-commit footer sweep: adds at v, removes at v-1 (the
            # snapshot they last belonged to)
            a_df = (
                _to_log(
                    self._apply_dvs(
                        spark,
                        self._scan_files_at(spark, adds, v),
                        this_add_dvs,
                    )
                )
                if adds
                else None
            )
            r_df = (
                _to_log(
                    self._apply_dvs(
                        spark,
                        self._scan_files_at(spark, removes, v - 1),
                        {f: p for f, p in prev_dvs.items() if f in set(removes)},
                    )
                )
                if removes
                else None
            )
            if a_df is None and r_df is None:
                continue
            ver = F.lit(v).cast("long").alias("_version")
            if r_df is None:
                feeds.append(
                    a_df.select(
                        ver, F.lit("insert").alias("_change_type"), "*"
                    )
                )
                continue
            if a_df is None:
                feeds.append(
                    r_df.select(
                        ver, F.lit("delete").alias("_change_type"), "*"
                    )
                )
                continue
            # align both sides to the UNION of columns (missing ->
            # typed NULL): a schema-evolving rewrite then compares as
            # an update, an untouched layout compares as unchanged
            cols = list(
                dict.fromkeys(
                    a_df.columns
                    + [c for c in r_df.columns if c not in a_df.columns]
                )
            )

            def _align(df, other):
                for c in cols:
                    if c not in df.columns:
                        df = df.withColumn(
                            c, F.lit(None).cast(other.schema[c].dataType)
                        )
                return df.select(*cols)

            a_df = _align(a_df, r_df)
            r_df = _align(r_df, a_df)
            a = a_df.select(
                F.col(key).alias("__k_a"), F.struct(*cols).alias("__row_a")
            )
            r = r_df.select(
                F.col(key).alias("__k_r"), F.struct(*cols).alias("__row_r")
            )
            change = F.struct  # (tag, row) pairs, exploded below

            def _tagged(tag: str, row: str):
                return change(
                    F.lit(tag).alias("ct"), F.col(row).alias("row")
                )

            feeds.append(
                r.join(a, r["__k_r"] == a["__k_a"], "full_outer")
                .select(
                    F.when(
                        F.col("__k_r").isNull(),
                        F.array(_tagged("insert", "__row_a")),
                    )
                    .when(
                        F.col("__k_a").isNull(),
                        F.array(_tagged("delete", "__row_r")),
                    )
                    .when(
                        ~F.col("__row_a").eqNullSafe(F.col("__row_r")),
                        F.array(
                            _tagged("update_preimage", "__row_r"),
                            _tagged("update_postimage", "__row_a"),
                        ),
                    )
                    # unchanged rows: no otherwise() -> NULL array, and
                    # explode(NULL) emits zero rows — they cancel here
                    .alias("cs")
                )
                .select(F.explode("cs").alias("c"))
                .select(ver, F.col("c.ct").alias("_change_type"), "c.row.*")
            )
        if not feeds:
            # a window of metadata-only commits (schema/meta/empty dv
            # deltas) is a legal empty feed, not an error
            empty = self.empty_df(spark, to_version)
            return empty.select(
                F.lit(None).cast("long").alias("_version"),
                F.lit(None).cast("string").alias("_change_type"),
                "*",
            )
        out = feeds[0]
        for f in feeds[1:]:
            # a window spanning a schema change yields per-commit
            # frames with different column sets; NULL-fill the missing
            # ones instead of throwing (r13 advice)
            out = out.unionByName(f, allowMissingColumns=True)
        return out


def _warehouse_dir(sf_dir: str, name: str) -> str:
    # same (entry, sf, pid) isolation contract as sources/queries.py
    from hive_clone_spark.sources.queries import _warehouse

    return _warehouse(sf_dir, name)


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Q91 — commit-log time travel: the q74 snapshot-diff semantics,
# realized through the TABLE FORMAT instead of two date filters.
# Version 0 commits the old snapshot (orders before 1996); version 1 is
# a transactional rewrite to the new snapshot (orders before 1997 with
# status O folded to F — the shape a MERGE publishes). The entry then
# time-travel-reads BOTH versions and computes the CDC census between
# them; the oracle is q74's: the format must reproduce, via log replay
# alone, exactly the diff the date-filter derivation predicts. A commit
# that leaks files across versions, mis-folds remove actions, or reads
# the wrong snapshot shifts the census.
# ---------------------------------------------------------------------------
@register(
    "q91_txlog_time_travel",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderdate < DATE '1996-01-01'),
    new AS (
      SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'O' THEN 'F' ELSE o_orderstatus END
          AS o_orderstatus
      FROM orders WHERE o_orderdate < DATE '1997-01-01'),
    diff AS (
      SELECT
        CASE
          WHEN old.o_orderkey IS NULL THEN 'insert'
          WHEN new.o_orderkey IS NULL THEN 'delete'
          WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
            THEN 'update'
          ELSE 'unchanged' END AS op
      FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
    SELECT op, COUNT(*) AS n_rows FROM diff
    GROUP BY op ORDER BY op
    """,
)
def q91_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q91")).create()
    o = table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderdate") < F.lit("1996-01-01").cast("date")).select(
        "o_orderkey", "o_orderstatus"
    )
    new = o.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "F")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    tl.append(old, n_files=4)  # version 0
    tl.overwrite(new, n_files=4, op="merge-rewrite")  # version 1
    v_old = tl.read(spark, 0).select(
        F.col("o_orderkey").alias("k_old"), F.col("o_orderstatus").alias("s_old")
    )
    v_new = tl.read(spark, 1).select(
        F.col("o_orderkey").alias("k_new"), F.col("o_orderstatus").alias("s_new")
    )
    diff = v_old.join(v_new, v_old.k_old == v_new.k_new, "full_outer").select(
        F.when(F.col("k_old").isNull(), "insert")
        .when(F.col("k_new").isNull(), "delete")
        .when(~F.col("s_old").eqNullSafe(F.col("s_new")), "update")
        .otherwise("unchanged")
        .alias("op")
    )
    return diff.groupBy("op").agg(F.count("*").alias("n_rows")).orderBy("op")


# ---------------------------------------------------------------------------
# Q92 — commit-log history: append + append + compaction as three
# atomic commits, then a time-travel read of EVERY version. Version 0
# lands even orderkeys fragmented over 16 files, version 1 appends the
# odd orderkeys over 8 more, version 2 is q79's compaction as a single
# rewrite commit (remove all 24, add the right-sized replacement). The
# result is one row per version — op, active file count, row count,
# decimal-exact price sum — and the oracle predicts every cell from the
# construction rule, so a replay that drops a remove action (file count
# 25), double-counts an add (rows off), or corrupts data across the
# rewrite (sum off) fails the hash.
# ---------------------------------------------------------------------------
_TX_FRAG_V0 = 16
_TX_FRAG_V1 = 8
_TX_ROWS_PER_FILE = 500_000


@register(
    "q92_txlog_compaction_history",
    oracle=f"""
    WITH v0 AS (
      SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
        CAST({_TX_FRAG_V0} AS BIGINT) AS n_files,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0),
    v1 AS (
      SELECT CAST(1 AS BIGINT), 'append',
        CAST({_TX_FRAG_V0 + _TX_FRAG_V1} AS BIGINT),
        CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders),
    v2 AS (
      SELECT CAST(2 AS BIGINT), 'compact',
        CAST(GREATEST(1, COUNT(*) // {_TX_ROWS_PER_FILE}) AS BIGINT),
        CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders)
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
    ORDER BY version
    """,
)
def q92_txlog_compaction_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q92")).create()
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tl.append(o.where(F.col("o_orderkey") % 2 == 0), n_files=_TX_FRAG_V0)
    tl.append(o.where(F.col("o_orderkey") % 2 == 1), n_files=_TX_FRAG_V1)
    target = max(1, tl.read(spark).count() // _TX_ROWS_PER_FILE)
    tl.overwrite(tl.read(spark), n_files=target, op="compact")
    rows = []
    for h in tl.history():
        snap = tl.read(spark, h["version"]).agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        rows.append(
            snap.select(
                F.lit(h["version"]).cast("long").alias("version"),
                F.lit(h["op"]).alias("op"),
                F.lit(len(tl.active_files(h["version"]))).cast("long").alias(
                    "n_files"
                ),
                "n_rows",
                "sum_price",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# Q98 — stats-based file skipping through the commit log: the table is
# laid out as one file per orderkey range bucket, each add action
# carries the file's [min, max] orderkey, and a range query consults
# ONLY the log metadata to decide which files to open. The entry
# reports the skipping ledger (files total vs scanned) AND the query
# result computed from just the chosen files — if pruning ever drops a
# file it shouldn't, the row count / decimal sum diverge from the
# oracle's full-table answer; if it stops pruning, n_files_scanned
# flips. This is the min/max zone-map machinery (Delta data skipping,
# Iceberg manifests, parquet row-group stats lifted to the table
# level) that makes selective scans at 100 TB read gigabytes, not
# terabytes — and it composes with q57's z-ordering, which exists
# precisely to make these per-file ranges tight on two columns.
# ---------------------------------------------------------------------------
_SKIP_BUCKETS = 16


@register(
    "q98_txlog_file_skipping",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * {_SKIP_BUCKETS}) // (m + 1) AS bucket
      FROM orders, mx),
    bstats AS (
      SELECT bucket, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
      FROM b GROUP BY bucket)
    SELECT
      CAST((SELECT COUNT(*) FROM bstats) AS BIGINT) AS n_files_total,
      CAST((SELECT COUNT(*) FROM bstats, rng
            WHERE mn <= hi AND mxk >= lo) AS BIGINT) AS n_files_scanned,
      CAST((SELECT COUNT(*) FROM b, rng
            WHERE o_orderkey BETWEEN lo AND hi) AS BIGINT) AS n_rows,
      CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM b, rng
            WHERE o_orderkey BETWEEN lo AND hi) AS DOUBLE) AS sum_price
    """,
)
def q98_txlog_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q98")
    lo, hi = m // 4, m // 2
    all_files, chosen = tl.scan_files("o_orderkey", lo, hi)
    pruned = spark.read.parquet(*[str(tl.root / f) for f in chosen])
    agg = pruned.where(F.col("o_orderkey").between(lo, hi)).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    return agg.select(
        F.lit(len(all_files)).cast("long").alias("n_files_total"),
        F.lit(len(chosen)).cast("long").alias("n_files_scanned"),
        "n_rows",
        "sum_price",
    )


# ---------------------------------------------------------------------------
# Q125 — transactional ROW-LEVEL DELETE through the commit log (the
# GDPR-delete path, round-7 verdict task 6): the table is q98's
# stats-indexed bucket layout; the delete targets scattered keys
# (o_orderkey % 97 = 0) inside a key range, and the skipping stats
# decide — from log METADATA alone — which files the copy-on-write
# rewrite must touch. One atomic commit removes exactly the affected
# files and adds their rewrites; untouched files are never read or
# rewritten. The commit uses the optimistic-concurrency token
# (expected_version) in a retry loop — the production protocol under
# concurrent writers (raced and pinned in tests/test_txlog.py).
#
# The ledger row per version fuses history metadata (file add/remove
# counts — the MINIMAL-REWRITE evidence) with time-travel DATA reads
# (row count, decimal-exact price sum), so a rewrite that touches too
# many files, drops a survivor row, or resurrects a deleted one fails
# the hash.
#
# Scale design (100 TB): the rewrite cost is proportional to files
# CONTAINING matches, not table size — stats pruning bounds the read
# AND the write. At production scale the same commit shape backs
# deletion-vector maintenance; copy-on-write is the compaction-friendly
# variant shown here.
# ---------------------------------------------------------------------------
def _bucket_stats(df: DataFrame) -> dict[int, dict[str, list]]:
    return {
        int(r["bucket"]): {"o_orderkey": [int(r["mn"]), int(r["mx"])]}
        for r in df.groupBy("bucket")
        .agg(F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx"))
        .collect()
    }


def _with_bucket(df: DataFrame, m: int) -> DataFrame:
    return df.withColumn(
        "bucket",
        F.floor((F.col("o_orderkey") * _SKIP_BUCKETS) / (m + 1)).cast("int"),
    )


def _footer_max(df: DataFrame, col: str) -> int | None:
    """max(``col``) over the files a parquet scan ``df`` reads, from
    their footers alone (zero Spark jobs), or None when any file cannot
    vouch for it: not a local file, or no footer min/max (see
    _footer_minmax). The caller then runs the aggregate."""
    from urllib.parse import unquote, urlparse

    hi = None
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        mnmx = _footer_minmax(unquote(u.path), col)
        if mnmx is None:
            return None
        hi = mnmx[1] if hi is None else max(hi, mnmx[1])
    return hi


def _column_max(df: DataFrame, col: str) -> int:
    """max(``col``) of a parquet scan: from the footers when they vouch
    for it (_footer_max), else one aggregate job."""
    m = _footer_max(df, col)
    return int(df.agg(F.max(col)).collect()[0][0]) if m is None else m


def _stage_bucketed_orders(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[TxLog, int]:
    """Version 0: orders bucketed into _SKIP_BUCKETS stats-carrying
    files by orderkey range (q98's layout). The bucket bound comes from
    the orders footers; the max aggregate is only the fallback."""
    tl = TxLog(_warehouse_dir(sf_dir, name)).create()
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    m = _column_max(o, "o_orderkey")
    bucketed = _with_bucket(o, m)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(bucketed, "bucket", stats_col="o_orderkey"),
    )
    return tl, m


def _version_ledger(spark: SparkSession, tl: TxLog) -> DataFrame:
    """One row per commit: history metadata + a time-travel data read."""
    rows = []
    for h in tl.history():
        snap = tl.read(spark, h["version"]).agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        rows.append(
            snap.select(
                F.lit(h["version"]).cast("long").alias("version"),
                F.lit(h["op"]).alias("op"),
                F.lit(h["n_added"]).cast("long").alias("n_added"),
                F.lit(h["n_removed"]).cast("long").alias("n_removed"),
                "n_rows",
                "sum_price",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("version")


@register(
    "q125_txlog_row_level_delete",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * {_SKIP_BUCKETS}) // (m + 1) AS bucket
      FROM orders, mx),
    aff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_aff
      FROM (SELECT bucket, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
            FROM b GROUP BY bucket) s, rng
      WHERE mn <= hi AND mxk >= lo),
    del AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_del,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s_del
      FROM b, rng WHERE o_orderkey % 97 = 0 AND o_orderkey BETWEEN lo AND hi),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM b)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST({_SKIP_BUCKETS} AS BIGINT) AS n_added,
      CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', n_aff, n_aff,
      n_tot - n_del, CAST(s_tot - s_del AS DOUBLE)
    FROM tot, del, aff
    ORDER BY version
    """,
)
def q125_txlog_row_level_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q125")
    lo, hi = m // 4, m // 2
    condemned = (F.col("o_orderkey") % 97 == 0) & F.col("o_orderkey").between(
        lo, hi
    )
    while True:  # optimistic-concurrency retry (production protocol)
        expected = tl.latest_version()
        _all, affected = tl.scan_files("o_orderkey", lo, hi, version=expected)
        aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
        survivors = _with_bucket(aff_df.where(~condemned), m)
        adds = tl.stage_data_partitioned(
            survivors, "bucket", stats_col="o_orderkey"
        )
        try:
            tl.commit(
                "delete", add=adds, remove=affected, expected_version=expected
            )
            break
        except CommitConflictError:
            continue  # staged files of the losing attempt await vacuum
    return _version_ledger(spark, tl)


# ---------------------------------------------------------------------------
# Q126 — transactional MERGE (upsert) through the commit log, minimal
# rewrite set: q44's MERGE semantics committed atomically. The source
# carries updates for the [m/4, m/2] key range (price doubled —
# exact in both double and decimal arithmetic) plus 100 brand-new
# keys. Skipping stats pick the files holding match candidates; ONLY
# those are rewritten with the update applied; the inserts land as one
# new stats-carrying file; one commit publishes remove(affected) +
# add(rewrites + inserts). History shows n_added = affected + 1 and
# n_removed = affected — the minimal-rewrite evidence the verdict
# asked for — and time-travel reads verify the data at both versions.
# ---------------------------------------------------------------------------
_MERGE_INSERTS = 100


@register(
    "q126_txlog_merge_minimal_rewrite",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * {_SKIP_BUCKETS}) // (m + 1) AS bucket
      FROM orders, mx),
    aff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_aff
      FROM (SELECT bucket, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
            FROM b GROUP BY bucket) s, rng
      WHERE mn <= hi AND mxk >= lo),
    upd AS (
      SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_rng
      FROM b, rng WHERE o_orderkey BETWEEN lo AND hi),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM b)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST({_SKIP_BUCKETS} AS BIGINT) AS n_added,
      CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'merge', n_aff + 1, n_aff,
      n_tot + {_MERGE_INSERTS},
      CAST(s_tot + s_rng
           + CAST({_MERGE_INSERTS} * 50.00 AS DECIMAL(18,2)) AS DOUBLE)
    FROM tot, aff, upd
    ORDER BY version
    """,
)
def q126_txlog_merge_minimal_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q126")
    lo, hi = m // 4, m // 2
    inserts = spark.range(1, _MERGE_INSERTS + 1).select(
        (F.lit(m) + F.col("id")).alias("o_orderkey"),
        F.lit(50.0).alias("o_totalprice"),
    )
    while True:
        expected = tl.latest_version()
        _all, affected = tl.scan_files("o_orderkey", lo, hi, version=expected)
        aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
        # WHEN MATCHED: double the price (exact in double AND decimal)
        rewritten = _with_bucket(
            aff_df.withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey").between(lo, hi),
                    F.col("o_totalprice") * 2,
                ).otherwise(F.col("o_totalprice")),
            ),
            m,
        )
        adds = tl.stage_data_partitioned(
            rewritten, "bucket", stats_col="o_orderkey"
        )
        # WHEN NOT MATCHED: inserts as one new stats-carrying file
        ins_adds = tl.stage_data(inserts, n_files=1)
        for a in ins_adds:
            a["stats"] = {"o_orderkey": [m + 1, m + _MERGE_INSERTS]}
        try:
            tl.commit(
                "merge",
                add=adds + ins_adds,
                remove=affected,
                expected_version=expected,
            )
            break
        except CommitConflictError:
            continue
    return _version_ledger(spark, tl)


# ---------------------------------------------------------------------------
# Q128 — exactly-once STREAM sink into the transactional table:
# readStream(events) -> foreachBatch -> stage + commit_idempotent,
# each micro-batch one atomic commit stamped with its batch id (the
# Delta txnAppId/txnVersion pattern). After the drain the entry
# REDELIVERS every batch — the at-least-once failure mode every
# foreachBatch sink must survive — and the idempotent commit drops all
# of them: version count unchanged, table state unchanged. The output
# fuses the table's data aggregate with that evidence (n_commits,
# redelivery_skipped), so duplicated rows, a lost batch, or a replayed
# commit all fail the hash.
#
# q72 proves exactly-once into a FILE sink via the streaming
# checkpoint; this entry proves it into the TABLE FORMAT via commit
# txn ids — the half that still holds when the checkpoint is lost and
# the job is re-run from scratch (the real-world recovery case).
#
# Scale design: one commit per micro-batch keeps the log proportional
# to trigger count, not rows; staged-then-orphaned redelivery files
# are vacuum()'s job, exactly like production formats.
# ---------------------------------------------------------------------------
@register(
    "q128_stream_txlog_sink",
    oracle="""
    WITH agg AS (
      SELECT event_type, COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
          AS total_value
      FROM events GROUP BY event_type)
    SELECT event_type, n_events, total_value,
      CAST(1 AS BIGINT) AS n_commits,
      TRUE AS redelivery_skipped
    FROM agg ORDER BY event_type
    """,
)
def q128_stream_txlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hive_clone_spark.streaming.streams import read_events_stream, run_foreach

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q128")).create()
    ckpt = _warehouse_dir(sf_dir, "txlog_q128_ckpt")
    delivered: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        txn = f"q128-{batch_id}"
        if tl.txn_applied(txn):  # fast path: skip staging entirely
            return
        tl.commit_idempotent(
            txn, "stream-append", add=tl.stage_data(batch_df, n_files=2)
        )
        delivered.append(batch_id)

    src = read_events_stream(
        spark, os.path.join(sf_dir, "events.parque[t]"),
        max_files_per_trigger=None,
    )
    run_foreach(src, sink, ckpt)
    versions_after_drain = tl.latest_version() + 1
    # at-least-once failure injection: redeliver EVERY batch (staged
    # again, as a crashed-after-write retry would), all must be dropped
    snapshot = tl.read(spark)
    for batch_id in delivered:
        tl.commit_idempotent(
            f"q128-{batch_id}",
            "stream-append",
            add=tl.stage_data(snapshot, n_files=1),
        )
    skipped = tl.latest_version() + 1 == versions_after_drain
    back = tl.read(spark)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            "event_type",
            "n_events",
            "total_value",
            F.lit(versions_after_drain).cast("long").alias("n_commits"),
            F.lit(bool(skipped)).alias("redelivery_skipped"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q135 — change-data feed FROM THE COMMIT LOG: v0 stages orders into
# stats-carrying bucket files, v1 is a row-level copy-on-write DELETE
# (keys % 97 == 0 inside [m/4, m/2]), v2 is a MERGE that doubles the
# price of every key in (m/2, 3m/4] and inserts 50 brand-new keys.
# change_feed() then reconstructs the row-level history of v1..v2 by
# reading ONLY each commit's touched files and letting the full-outer
# join cancel the copy-on-write passengers. The oracle predicts every
# (version, change_type) cell — count AND decimal price sum (the
# postimage sum is exactly 2x the preimage sum; doubling is exact in
# both double and decimal arithmetic) — from the construction rules
# alone, so a feed that leaks unchanged rows, drops a preimage, or
# reads a wrong file set fails the hash.
#
# Scale design: this is the q91/q74 CDC semantics at log cost instead
# of snapshot cost — two full-table scans per feed pull become a scan
# of just the rewritten files, which stats-based skipping (q98) already
# bounded to the buckets intersecting the predicate.
# ---------------------------------------------------------------------------
_CDF_INSERTS = 50


@register(
    "q135_txlog_change_feed",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    del AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders, mx
      WHERE o_orderkey % 97 = 0 AND o_orderkey BETWEEN m // 4 AND m // 2),
    upd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders, mx
      WHERE o_orderkey BETWEEN (m // 2) + 1 AND (3 * m) // 4)
    SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
      n AS n_rows, CAST(s AS DOUBLE) AS sum_price FROM del
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', CAST({_CDF_INSERTS} AS BIGINT),
      CAST(CAST({_CDF_INSERTS} * 50.00 AS DECIMAL(18,2)) AS DOUBLE)
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_postimage', n, CAST(s * 2 AS DOUBLE)
    FROM upd
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_preimage', n, CAST(s AS DOUBLE)
    FROM upd
    ORDER BY version, change_type
    """,
)
def q135_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q135")
    # v1: row-level delete (q125's protocol, different predicate)
    lo1, hi1 = m // 4, m // 2
    condemned = (F.col("o_orderkey") % 97 == 0) & F.col("o_orderkey").between(
        lo1, hi1
    )
    expected = tl.latest_version()
    _all, affected = tl.scan_files("o_orderkey", lo1, hi1, version=expected)
    aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
    survivors = _with_bucket(aff_df.where(~condemned).drop("bucket"), m)
    tl.commit(
        "delete",
        add=tl.stage_data_partitioned(
            survivors, "bucket", stats_col="o_orderkey"
        ),
        remove=affected,
        expected_version=expected,
    )
    # v2: MERGE — double prices in (m/2, 3m/4], insert 50 new keys
    lo2, hi2 = (m // 2) + 1, (3 * m) // 4
    expected = tl.latest_version()
    _all, affected = tl.scan_files("o_orderkey", lo2, hi2, version=expected)
    aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
    rewritten = _with_bucket(
        aff_df.drop("bucket").withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey").between(lo2, hi2),
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
        ),
        m,
    )
    inserts = spark.range(1, _CDF_INSERTS + 1).select(
        (F.lit(m) + F.col("id")).alias("o_orderkey"),
        F.lit(50.0).alias("o_totalprice"),
    )
    ins_adds = tl.stage_data(inserts, n_files=1)
    for a in ins_adds:
        a["stats"] = {"o_orderkey": [m + 1, m + _CDF_INSERTS]}
    tl.commit(
        "merge",
        add=tl.stage_data_partitioned(rewritten, "bucket", stats_col="o_orderkey")
        + ins_adds,
        remove=affected,
        expected_version=expected,
    )
    feed = tl.change_feed(spark, "o_orderkey", from_version=0)
    return (
        feed.groupBy(
            F.col("_version").alias("version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("version", "change_type")
    )


# ---------------------------------------------------------------------------
# Q144 — small-file compaction POLICY (the OPTIMIZE file picker): q79
# and q92 compact by rewriting the whole table; real OPTIMIZE must be
# SELECTIVE — pick only the files under a size threshold, bin them
# into right-sized replacements, and leave the big files alone, because
# at 100 TB rewrite amplification is the whole cost. The layout is
# constructed bimodal (16 small files of 1/64 of the rows each + 4
# big files with the rest); the policy reads ONLY log metadata
# (per-file n_rows stats — no data file opened to decide), picks the
# 16 small files, and commits remove(16) + add(ceil(small/target))
# in one atomic 'optimize'. The ledger pins per-version file counts,
# row counts, the decimal price sum (compaction must not corrupt
# data), and the REWRITE FRACTION — the evidence that big files were
# never touched.
# ---------------------------------------------------------------------------
_OPT_SMALL_BUCKETS = 16
_OPT_BIG_BUCKETS = 4
_OPT_TARGET_DIV = 16  # target file size = total_rows // 16


@register(
    "q144_compaction_policy",
    oracle=f"""
    WITH tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM orders),
    sm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_small FROM orders
      WHERE o_orderkey % 64 < {_OPT_SMALL_BUCKETS}),
    plan AS (
      SELECT n_tot, s_tot, n_small,
        n_tot // {_OPT_TARGET_DIV} AS target,
        (n_small + n_tot // {_OPT_TARGET_DIV} - 1)
          // (n_tot // {_OPT_TARGET_DIV}) AS n_new
      FROM tot, sm)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST({_OPT_SMALL_BUCKETS + _OPT_BIG_BUCKETS} AS BIGINT) AS n_added,
      CAST(0 AS BIGINT) AS n_removed,
      n_tot AS n_rows, CAST(s_tot AS DOUBLE) AS sum_price,
      CAST(0.0 AS DOUBLE) AS rewrite_frac
    FROM plan
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'optimize', n_new,
      CAST({_OPT_SMALL_BUCKETS} AS BIGINT),
      n_tot, CAST(s_tot AS DOUBLE),
      ROUND(CAST(n_small AS DOUBLE) / n_tot, 6)
    FROM plan
    ORDER BY version
    """,
)
def q144_compaction_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q144")).create()
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # bimodal layout: 16 small files (key % 64 == b) + 4 big ones
    bucketed = o.withColumn(
        "bucket",
        F.when(
            F.col("o_orderkey") % 64 < _OPT_SMALL_BUCKETS,
            F.col("o_orderkey") % 64,
        ).otherwise(_OPT_SMALL_BUCKETS + F.col("o_orderkey") % _OPT_BIG_BUCKETS)
        .cast("int"),
    )
    counts = {
        int(r["bucket"]): int(r["n"])
        for r in bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    stats = {b: {"n_rows": [n, n]} for b, n in counts.items()}
    tl.commit(
        "append", add=tl.stage_data_partitioned(bucketed, "bucket", stats)
    )
    # policy: METADATA-ONLY decision off the log's n_rows stats
    _files, fstats, _dvs, _c, _, _ = tl._replay(tl.latest_version())
    n_tot = sum(s["n_rows"][0] for s in fstats.values())
    target = n_tot // _OPT_TARGET_DIV
    small = sorted(
        f for f, s in fstats.items() if s["n_rows"][0] < target // 2
    )
    small_rows = sum(fstats[f]["n_rows"][0] for f in small)
    n_new = (small_rows + target - 1) // target
    merged = spark.read.parquet(*[str(tl.root / f) for f in small])
    tl.commit(
        "optimize", add=tl.stage_data(merged, n_files=n_new), remove=small
    )
    rows = []
    for h in tl.history():
        snap = tl.read(spark, h["version"]).agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        frac = (
            F.lit(0.0)
            if h["version"] == 0
            # F.round, not Python round: the Spark<->DuckDB ROUND pair
            # is the proven half-way behavior
            else F.round(F.lit(float(small_rows)) / F.lit(n_tot), 6)
        )
        rows.append(
            snap.select(
                F.lit(h["version"]).cast("long").alias("version"),
                F.lit(h["op"]).alias("op"),
                F.lit(h["n_added"]).cast("long").alias("n_added"),
                F.lit(h["n_removed"]).cast("long").alias("n_removed"),
                "n_rows",
                "sum_price",
                frac.alias("rewrite_frac"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# Q145 — PARTITION-SPEC EVOLUTION (the Iceberg capability): a table's
# physical layout can change mid-life without rewriting history. v0
# lands the even-key half partitioned by o_custkey range (the "old
# spec" — stats on custkey only); v1 appends the odd-key half
# partitioned by o_orderkey range (the "new spec"). A key-range query
# then plans against BOTH generations at once: new-spec files prune by
# their orderkey stats, old-spec files carry no orderkey stats and are
# scanned conservatively — correctness never depends on the layout,
# only scan cost does. The output fuses the scan-economics evidence
# (files per generation scanned vs total) with the query result
# itself, so a pruner that skips a conservative file (wrong rows) or
# scans everything (wrong file counts) fails the hash.
#
# Scale design: this is why production formats version their partition
# specs instead of rewriting 100 TB on a re-partition decision — old
# data keeps its layout until natural compaction migrates it, and the
# planner mixes per-file stats from both generations. scan_files'
# conservative default (no stats on the predicate column -> scan) is
# the exact contract.
# ---------------------------------------------------------------------------
_SPEC_BUCKETS = 8


@register(
    "q145_partition_spec_evolution",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    v1b AS (
      SELECT (o_orderkey * {_SPEC_BUCKETS}) // (m + 1) AS bucket,
        MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
      FROM orders, mx WHERE o_orderkey % 2 = 1 GROUP BY bucket),
    v1s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_v1_scanned
      FROM v1b, rng WHERE mn <= hi AND mxk >= lo),
    res AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price
      FROM orders, rng WHERE o_orderkey BETWEEN lo AND hi)
    SELECT CAST({2 * _SPEC_BUCKETS} AS BIGINT) AS n_files,
      CAST({_SPEC_BUCKETS} AS BIGINT) + n_v1_scanned AS n_scanned,
      CAST({_SPEC_BUCKETS} AS BIGINT) AS n_v0_scanned,
      n_v1_scanned, n_rows, sum_price
    FROM v1s, res
    """,
)
def q145_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q145")).create()
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mrow = o.agg(F.max("o_orderkey"), F.max("o_custkey")).collect()[0]
    m, mc = int(mrow[0]), int(mrow[1])
    # v0 — old spec: even keys, partitioned by CUSTKEY range
    v0 = o.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "bucket",
        F.floor((F.col("o_custkey") * _SPEC_BUCKETS) / (mc + 1)).cast("int"),
    )
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(
            v0, "bucket", stats_col="o_custkey",
            stats_values=range(_SPEC_BUCKETS),
        ),
    )
    # v1 — new spec: odd keys, partitioned by ORDERKEY range
    v1 = o.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "bucket",
        F.floor((F.col("o_orderkey") * _SPEC_BUCKETS) / (m + 1)).cast("int"),
    )
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(
            v1, "bucket", stats_col="o_orderkey",
            stats_values=range(_SPEC_BUCKETS),
        ),
    )
    lo, hi = m // 4, m // 2
    all_files, chosen = tl.scan_files("o_orderkey", lo, hi)
    # generation split: v0 files carry no orderkey stats (conservative)
    _f, fstats, _dvs, _c, _, _ = tl._replay(tl.latest_version())
    v0_scanned = sum(
        1 for f in chosen if "o_orderkey" not in fstats.get(f, {})
    )
    v1_scanned = len(chosen) - v0_scanned
    result = (
        spark.read.parquet(*[str(tl.root / f) for f in chosen])
        .where(F.col("o_orderkey").between(lo, hi))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )
    return result.select(
        F.lit(len(all_files)).cast("long").alias("n_files"),
        F.lit(len(chosen)).cast("long").alias("n_scanned"),
        F.lit(v0_scanned).cast("long").alias("n_v0_scanned"),
        F.lit(v1_scanned).cast("long").alias("n_v1_scanned"),
        "n_rows",
        "sum_price",
    )


# ---------------------------------------------------------------------------
# Q148 — DELETION VECTORS: merge-on-read row-level DELETE through the
# commit log. q125 shows the copy-on-write path (rewrite every file
# containing a match); this is the other half of the production design
# space — a delete commits only per-file POSITION sidecars (Delta
# deletion vectors / Iceberg positional deletes) and the data files are
# never touched. Two successive deletes (orderkey % 97, then % 89,
# inside [m/4, m/2]) exercise the DV merge rule: the second commit's
# sidecars REPLACE the first's after a position union, so a file's DV
# is always the full deleted set.
#
# The ledger row per version fuses metadata evidence with time-travel
# data reads: n_dv_files (how many files carry a DV — the oracle
# derives it from which buckets contain matching keys), n_files_added
# (0 for both deletes — the merge-on-read proof), n_rows_visible /
# sum_price (DV-aware snapshot read at that version), and
# n_rows_physical (a RAW read of the same active files — constant
# across versions, proving no data file was rewritten). A reader that
# leaks deleted rows, hides too many, breaks the position union, or
# silently rewrites files fails the hash.
#
# Scale design (100 TB): the delete writes O(matching rows) of sidecar
# positions — kilobytes against a petabyte table — and the matching
# scan is bounded by skipping stats BEFORE any data read. The DV-aware
# read anti-joins (file, row_index) against broadcast positions; a
# production reader pushes the same bitmap into the scan. Time travel
# keeps working because DV bindings fold per-version like any action.
# ---------------------------------------------------------------------------
@register(
    "q148_deletion_vectors",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    rng AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
    b AS (
      SELECT o_orderkey, o_totalprice,
        (o_orderkey * {_SKIP_BUCKETS}) // (m + 1) AS bucket
      FROM orders, mx),
    d1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_del,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s_del,
        CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_dv
      FROM b, rng
      WHERE o_orderkey % 97 = 0 AND o_orderkey BETWEEN lo AND hi),
    d2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_del,
        COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
                 CAST(0.00 AS DECIMAL(18,2))) AS s_del,
        CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_dv
      FROM b, rng
      WHERE (o_orderkey % 97 = 0 OR o_orderkey % 89 = 0)
        AND o_orderkey BETWEEN lo AND hi),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_tot
      FROM b)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST(0 AS BIGINT) AS n_dv_files,
      CAST({_SKIP_BUCKETS} AS BIGINT) AS n_files_added,
      n_tot AS n_rows_visible, n_tot AS n_rows_physical,
      CAST(s_tot AS DOUBLE) AS sum_price
    FROM tot
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete-dv', d1.n_dv, CAST(0 AS BIGINT),
      n_tot - d1.n_del, n_tot, CAST(s_tot - d1.s_del AS DOUBLE)
    FROM tot, d1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete-dv', d2.n_dv, CAST(0 AS BIGINT),
      n_tot - d2.n_del, n_tot, CAST(s_tot - d2.s_del AS DOUBLE)
    FROM tot, d2
    ORDER BY version
    """,
)
def q148_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q148")
    lo, hi = m // 4, m // 2
    for mod in (97, 89):
        tl.delete_where_mor(
            spark,
            (F.col("o_orderkey") % mod == 0)
            & F.col("o_orderkey").between(lo, hi),
            stats_col="o_orderkey",
            lo=lo,
            hi=hi,
        )
    # one action: per-version ledger rows unioned into a single job
    # whose arms run as parallel stages. Visible and physical aggregate
    # over ONE scan of the version's active files — the DV anti-join
    # becomes a broadcast marker join feeding a conditional aggregate,
    # so each version costs one pass instead of two (and no 1-row
    # scalar join appears in the plan).
    rows = []
    for h in tl.history():
        v = h["version"]
        vdvs = tl.dvs(v)
        # schema from the LOG (r13 advice): keeps the ledger read on
        # the _read_files rule if the staging ever evolves, and skips
        # the footer-inference pass a bare spark.read.parquet pays
        scan = tl._scan_files_at(spark, tl.active_files(v), v)
        if vdvs:
            # DV sidecars stream through the executors (_dv_frame) —
            # positions never land on the driver (the r13 verdict's
            # scale-killer: a billion-row delete as a driver list)
            dv_df = tl._dv_frame(spark, vdvs).withColumn(
                "__dead", F.lit(True)
            )
            src = scan.select(
                _dec("o_totalprice").alias("__p"),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            ).join(F.broadcast(dv_df), ["__file", "__pos"], "left")
            live = F.col("__dead").isNull()
        else:
            src = scan.select(_dec("o_totalprice").alias("__p"))
            live = F.lit(True)
        agg = src.agg(
            F.count(F.when(live, F.lit(1))).alias("n_rows_visible"),
            F.sum(F.when(live, F.col("__p"))).cast("double").alias("sum_price"),
            F.count("*").alias("n_rows_physical"),
        )
        rows.append(
            agg.select(
                F.lit(v).cast("long").alias("version"),
                F.lit(h["op"]).alias("op"),
                F.lit(len(vdvs)).cast("long").alias("n_dv_files"),
                F.lit(h["n_added"]).cast("long").alias("n_files_added"),
                "n_rows_visible",
                F.col("n_rows_physical").cast("long").alias("n_rows_physical"),
                "sum_price",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# Q150 — branch-based WRITE-AUDIT-PUBLISH (WAP) through the commit
# log: the production pattern (Iceberg branch refs / Delta WAP) where
# new data lands on an isolated BRANCH, gets audited and fixed there,
# and reaches main only as an atomic fast-forward publish — main
# readers can never observe unaudited rows.
#
# Storyline, every cell oracle-predicted from the orders table:
#   phase 0  main v0     = pre-1996 orders (4 files);
#   phase 1  branch write: the 1996 batch lands on branch 'audit' with
#            PLANTED corruption (orderkey % 97 rows carry negated
#            prices) — branch sees them, main does not;
#   phase 2  audit fix   : violations counted ON THE BRANCH, then the
#            fix rewrites ONLY the 2-file branch delta (remove 2 /
#            add 2) dropping the corrupt rows;
#   phase 3  publish     : one main commit fast-forwards the branch's
#            net diff (add 2, remove 0 — file identity preserved, the
#            no-rewrite evidence) gated on expected_version = base.
#
# Scale design (100 TB): audit and publish are metadata commits; the
# data bytes are written once on the branch and MOVE ZERO times at
# publish. The conflict path (main advanced during audit -> publish
# raises, writer rebases) is pinned in tests/test_txlog.py.
# ---------------------------------------------------------------------------
@register(
    "q150_txlog_branch_wap",
    oracle="""
    WITH p96 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate < DATE '1996-01-01'),
    y96 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'),
    cl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        COALESCE(SUM(p), CAST(0.00 AS DECIMAL(18,2))) AS s
      FROM y96 WHERE o_orderkey % 97 <> 0),
    vi AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        COALESCE(SUM(p), CAST(0.00 AS DECIMAL(18,2))) AS s
      FROM y96 WHERE o_orderkey % 97 = 0)
    SELECT 0 AS phase, 'main_v0' AS stage, CAST(4 AS BIGINT) AS n_files,
      CAST(4 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
      CAST(0 AS BIGINT) AS audit_violations,
      p96.n AS n_rows, CAST(p96.s AS DOUBLE) AS sum_price
    FROM p96
    UNION ALL
    SELECT 1, 'branch_write', 6, 2, 0, 0,
      p96.n + cl.n + vi.n, CAST(p96.s + cl.s - vi.s AS DOUBLE)
    FROM p96, cl, vi
    UNION ALL
    SELECT 2, 'branch_audit_fix', 6, 2, 2, vi.n,
      p96.n + cl.n, CAST(p96.s + cl.s AS DOUBLE)
    FROM p96, cl, vi
    UNION ALL
    SELECT 3, 'main_publish', 6, 2, 0, 0,
      p96.n + cl.n, CAST(p96.s + cl.s AS DOUBLE)
    FROM p96, cl
    ORDER BY phase
    """,
)
def q150_txlog_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q150")).create()
    o = table(spark, sf_dir, "orders")
    pre = o.where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    ).select("o_orderkey", "o_totalprice")
    tl.append(pre, n_files=4)  # main v0
    tl.create_branch("audit", from_version=0)

    batch = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, -F.col("o_totalprice")
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    batch_adds = tl.stage_data(batch, n_files=2)
    tl.branch_commit("audit", "append", add=batch_adds)

    # audit ON the branch: main must not see the corrupt rows
    n_viol = (
        tl.branch_read(spark, "audit")
        .where(F.col("o_totalprice") < 0)
        .count()
    )
    delta = spark.read.parquet(
        *[str(tl.root / a["file"]) for a in batch_adds]
    )
    fixed_adds = tl.stage_data(
        delta.where(F.col("o_totalprice") >= 0), n_files=2
    )
    tl.branch_commit(
        "audit",
        "audit-fix",
        add=fixed_adds,
        remove=[a["file"] for a in batch_adds],
    )
    tl.publish_branch("audit", expected_version=0)

    def _ledger_row(phase, stage, n_files, n_added, n_removed, viol, df):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        ).select(
            F.lit(phase).cast("int").alias("phase"),
            F.lit(stage).alias("stage"),
            F.lit(n_files).cast("long").alias("n_files"),
            F.lit(n_added).cast("long").alias("n_added"),
            F.lit(n_removed).cast("long").alias("n_removed"),
            F.lit(viol).cast("long").alias("audit_violations"),
            "n_rows",
            "sum_price",
        )

    bfiles0, _, _, _ = tl.branch_replay("audit", bversion=0)
    bfiles1, _, _, _ = tl.branch_replay("audit")
    h = tl.history()
    rows = [
        _ledger_row(0, "main_v0", len(tl.active_files(0)), 4, 0, 0,
                    tl.read(spark, 0)),
        _ledger_row(1, "branch_write", len(bfiles0), 2, 0, 0,
                    tl._read_files(spark, sorted(bfiles0), {})),
        _ledger_row(2, "branch_audit_fix", len(bfiles1), 2, 2, n_viol,
                    tl.branch_read(spark, "audit")),
        _ledger_row(3, "main_publish", len(tl.active_files()),
                    h[-1]["n_added"], h[-1]["n_removed"], 0,
                    tl.read(spark)),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("phase")


# ---------------------------------------------------------------------------
# Q151 — commit-time CHECK constraint enforcement through the commit
# log (Delta's table constraints): the table publishes a constraint
# set as a metadata commit, and every subsequent data commit validates
# its STAGED INCREMENT — a distributed predicate scan over only the
# new files — inside the commit protocol. A violating batch is refused
# atomically: no version advances, the table bytes are untouched, and
# the staged files are vacuum fodder.
#
# Storyline (oracle-predicted from orders): v0 appends the pre-1996
# rows; v1 sets {price_positive: o_totalprice > 0, key_present:
# o_orderkey IS NOT NULL}; a 1996 batch with orderkey%97 prices
# negated is REJECTED (phase 2 — version stays 1, rows/sums
# unchanged, violation count = planted corruption); the cleaned batch
# then lands as v2 (phase 3). Enforcement evidence and data evidence
# ride the same ledger row, so silently-committed bad rows, a lost
# rejection, or validation against the wrong file set all fail the
# hash.
#
# Scale design (100 TB): enforcement cost is O(increment), never
# O(table) — existing data is valid by induction (the ALTER validates
# once). The violation scan is one parquet read of the staged files
# with all predicates fused into a single aggregate pass.
# ---------------------------------------------------------------------------
@register(
    "q151_txlog_check_constraints",
    oracle="""
    WITH p96 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate < DATE '1996-01-01'),
    y96 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'),
    cl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        COALESCE(SUM(p), CAST(0.00 AS DECIMAL(18,2))) AS s
      FROM y96 WHERE o_orderkey % 97 <> 0),
    vi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM y96
           WHERE o_orderkey % 97 = 0)
    SELECT 0 AS phase, 'append' AS op, TRUE AS accepted,
      CAST(0 AS BIGINT) AS n_violations, CAST(0 AS BIGINT) AS version,
      p96.n AS n_rows, CAST(p96.s AS DOUBLE) AS sum_price
    FROM p96
    UNION ALL
    SELECT 1, 'set-constraints', TRUE, 0, 1, p96.n, CAST(p96.s AS DOUBLE)
    FROM p96
    UNION ALL
    SELECT 2, 'append-rejected', FALSE, vi.n, 1, p96.n,
      CAST(p96.s AS DOUBLE)
    FROM p96, vi
    UNION ALL
    SELECT 3, 'append', TRUE, 0, 2, p96.n + cl.n,
      CAST(p96.s + cl.s AS DOUBLE)
    FROM p96, cl
    ORDER BY phase
    """,
)
def q151_txlog_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q151")).create()
    o = table(spark, sf_dir, "orders")
    pre = o.where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    ).select("o_orderkey", "o_totalprice")
    tl.append(pre, n_files=4)  # v0
    tl.set_constraints(
        {
            "price_positive": "o_totalprice > 0",
            "key_present": "o_orderkey IS NOT NULL",
        }
    )  # v1

    corrupt = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    corrupt_adds = tl.stage_data(corrupt, n_files=2)
    try:
        tl.commit_checked(spark, "append", add=corrupt_adds)
        n_viol, rejected = 0, False
    except ConstraintViolationError as e:
        n_viol, rejected = sum(e.violations.values()), True
    v_after_reject = tl.latest_version()

    clean = spark.read.parquet(
        *[str(tl.root / a["file"]) for a in corrupt_adds]
    ).where(F.col("o_totalprice") > 0)
    tl.commit_checked(
        spark, "append", add=tl.stage_data(clean, n_files=2)
    )  # v2

    def _row(phase, op, accepted, viol, version, df):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        ).select(
            F.lit(phase).cast("int").alias("phase"),
            F.lit(op).alias("op"),
            F.lit(accepted).alias("accepted"),
            F.lit(viol).cast("long").alias("n_violations"),
            F.lit(version).cast("long").alias("version"),
            "n_rows",
            "sum_price",
        )

    # phase-2 'accepted' is the OBSERVED outcome (False when the
    # constraint fired), not a constant the oracle can't distinguish
    rows = [
        _row(0, "append", True, 0, 0, tl.read(spark, 0)),
        _row(1, "set-constraints", True, 0, 1, tl.read(spark, 1)),
        _row(2, "append-rejected", not rejected, n_viol,
             v_after_reject, tl.read(spark, v_after_reject)),
        _row(3, "append", True, 0, tl.latest_version(), tl.read(spark)),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("phase")


# ---------------------------------------------------------------------------
# Q156 — BITEMPORAL dimension: the two time axes warehouses conflate —
# VALID time (when a fact was true in the world; q73's SCD2 interval
# columns) and TRANSACTION time (when the warehouse learned it; the
# commit log's version axis) — composed so "what did we believe at
# commit T about validity date D" is answerable for every (T, D).
# Neither axis alone can answer a late-arriving correction audit; the
# composition is the textbook bitemporal model (SQL:2011 system +
# application time), realized as SCD2 rows inside txlog snapshots.
#
# Build: v0 = every customer's segment valid from 1995-01-01, open
# ended. v1 = a correction batch LEARNED later: customers with
# custkey % 10 = 0 change segment to 'CORRECTED' effective
# 1996-01-01 — their old rows close (valid_to = 1996-01-01), new rows
# open. The entry then answers four (tx, valid) probes:
#   (v0, 1996-06-01): pre-correction belief — all original segments;
#   (v1, 1995-06-01): corrected belief about BEFORE the effective
#     date — still original (the correction respects history);
#   (v1, 1996-06-01): corrected belief after — %10 customers read
#     'CORRECTED';
#   (v1, 1996-06-01) restricted to corrected rows — the audit count.
# A reader that mixes the axes (applies the correction to the v0
# snapshot, or leaks it before its effective date) shifts the census.
#
# Scale design: transaction travel is log replay (metadata); valid
# travel is a partition-prunable predicate on interval columns. The
# correction rewrite touches only affected rows' files (here one
# batch; with q98's stats the general case prunes).
# ---------------------------------------------------------------------------
_BT_OPEN = "9999-12-31"


@register(
    "q156_bitemporal_dimension",
    oracle=f"""
    WITH seg AS (
      SELECT c_custkey, c_mktsegment FROM customer),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM seg),
    corr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corr FROM seg
             WHERE c_custkey % 10 = 0)
    SELECT 0 AS probe, 'v0 @ 1996-06-01' AS belief,
      n_all AS n_rows, CAST(0 AS BIGINT) AS n_corrected
    FROM n
    UNION ALL
    SELECT 1, 'v1 @ 1995-06-01', n_all, 0 FROM n
    UNION ALL
    SELECT 2, 'v1 @ 1996-06-01', n_all, n_corr FROM n, corr
    UNION ALL
    SELECT 3, 'v1 @ 1996-06-01 corrected-only', n_corr, n_corr FROM corr
    ORDER BY probe
    """,
)
def q156_bitemporal_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q156")).create()
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    open_to = F.lit(_BT_OPEN).cast("date")
    v0 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        open_to.alias("valid_to"),
    )
    tl.append(v0, n_files=4)  # transaction time v0

    eff = F.lit("1996-01-01").cast("date")
    hit = F.col("c_custkey") % 10 == 0
    closed = v0.where(hit).withColumn("valid_to", eff)
    opened = c.where(hit).select(
        "c_custkey",
        F.lit("CORRECTED").alias("segment"),
        eff.alias("valid_from"),
        open_to.alias("valid_to"),
    )
    untouched = v0.where(~hit)
    tl.overwrite(
        untouched.unionByName(closed).unionByName(opened),
        n_files=4,
        op="scd2-correct",
    )  # transaction time v1

    def _probe(pid, label, tx, valid, only_corrected):
        snap = tl.read(spark, tx)
        d = F.lit(valid).cast("date")
        rows = snap.where(
            (F.col("valid_from") <= d) & (F.col("valid_to") > d)
        )
        if only_corrected:
            rows = rows.where(F.col("segment") == "CORRECTED")
        return rows.agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("segment") == "CORRECTED", 1).otherwise(0)
            ).cast("bigint").alias("n_corrected"),
        ).select(
            F.lit(pid).cast("int").alias("probe"),
            F.lit(label).alias("belief"),
            "n_rows",
            F.coalesce("n_corrected", F.lit(0).cast("bigint")).alias(
                "n_corrected"
            ),
        )

    probes = [
        _probe(0, "v0 @ 1996-06-01", 0, "1996-06-01", False),
        _probe(1, "v1 @ 1995-06-01", 1, "1995-06-01", False),
        _probe(2, "v1 @ 1996-06-01", 1, "1996-06-01", False),
        _probe(3, "v1 @ 1996-06-01 corrected-only", 1, "1996-06-01", True),
    ]
    out = probes[0]
    for p in probes[1:]:
        out = out.unionAll(p)
    return out.orderBy("probe")


# ---------------------------------------------------------------------------
# Q164 — incremental view maintenance FROM THE CHANGE FEED: q103
# maintains an aggregate from batch deltas it was handed; q135 derives
# row-level deltas from the commit log; this entry CLOSES the loop —
# the materialized aggregate (per-bucket count + price sum over the
# q98 range-bucket layout) is maintained by APPLYING the feed's
# signed algebra (insert/postimage add, delete/preimage subtract,
# groups reaching zero rows disappear), never rescanning the base
# table. The base evolves through a copy-on-write row DELETE (v1) and
# a MERGE that doubles a key range's prices and inserts 40 new keys
# (v2, landing in a brand-new bucket 16 — group CREATION through the
# feed). The entry emits the incrementally-maintained MV NEXT TO a
# full rebuild of the final snapshot, and the oracle predicts both
# from the construction arithmetic — so `matches` = TRUE is verified
# against truth on BOTH paths, not just self-consistency.
#
# Scale design: maintenance cost is O(feed) = O(files touched by each
# commit), not O(table) — the only way a 100 TB table's hourly MV
# refresh is affordable. The signed-aggregate application is one
# map-side-combinable shuffle of |changed keys| rows into
# schema-bounded groups; the full rebuild exists here only as the
# verification arm.
# ---------------------------------------------------------------------------
_IVM_INSERTS = 40


@register(
    "q164_mv_incremental_from_feed",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    fin AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey > (2 * m) // 5 AND o_orderkey <= (3 * m) // 5
             THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
             ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
      FROM orders, mx
      WHERE NOT (o_orderkey % 31 = 0
                 AND o_orderkey BETWEEN m // 5 AND (2 * m) // 5)
      UNION ALL
      SELECT m + i, CAST(50.00 AS DECIMAL(18,2))
      FROM mx, (SELECT unnest(generate_series(1, {_IVM_INSERTS})) AS i)),
    g AS (
      SELECT (k * 16) // (m + 1) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n, SUM(p) AS s
      FROM fin, mx GROUP BY bucket)
    SELECT CAST(bucket AS INT) AS bucket,
      n AS n_rows_inc, CAST(s AS DOUBLE) AS sum_inc,
      n AS n_rows_rebuild, CAST(s AS DOUBLE) AS sum_rebuild,
      TRUE AS matches
    FROM g ORDER BY bucket
    """,
)
def q164_mv_incremental_from_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q164")

    def bucket_of(df: DataFrame) -> DataFrame:
        # always derived from the key (partition columns are stripped
        # from partitioned data files; feed rows must not depend on
        # which layout a row was stored under)
        return df.withColumn(
            "mv_bucket",
            F.floor((F.col("o_orderkey") * _SKIP_BUCKETS) / (m + 1)).cast(
                "int"
            ),
        )

    # the MV as of v0 (one aggregate over the initial snapshot)
    mv0 = (
        bucket_of(tl.read(spark))
        .groupBy("mv_bucket")
        .agg(
            F.count("*").alias("n0"),
            F.sum(_dec("o_totalprice")).alias("s0"),
        )
    )
    # pin the v0 aggregate NOW: later commits must not leak into the
    # lazily-evaluated plan (localCheckpoint returns the pinned frame)
    mv0 = mv0.localCheckpoint(eager=True)

    # v1: copy-on-write row-level DELETE
    lo1, hi1 = m // 5, (2 * m) // 5
    condemned = (F.col("o_orderkey") % 31 == 0) & F.col(
        "o_orderkey"
    ).between(lo1, hi1)
    expected = tl.latest_version()
    _all, affected = tl.scan_files("o_orderkey", lo1, hi1, version=expected)
    aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
    survivors = _with_bucket(aff_df.where(~condemned).drop("bucket"), m)
    tl.commit(
        "delete",
        add=tl.stage_data_partitioned(
            survivors, "bucket", stats_col="o_orderkey"
        ),
        remove=affected,
        expected_version=expected,
    )
    # v2: MERGE — double prices in ((2m)/5, (3m)/5], insert 40 new keys
    lo2, hi2 = (2 * m) // 5 + 1, (3 * m) // 5
    expected = tl.latest_version()
    _all, affected = tl.scan_files("o_orderkey", lo2, hi2, version=expected)
    aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
    rewritten = _with_bucket(
        aff_df.drop("bucket").withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey").between(lo2, hi2),
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
        ),
        m,
    )
    inserts = spark.range(1, _IVM_INSERTS + 1).select(
        (F.lit(m) + F.col("id")).alias("o_orderkey"),
        F.lit(50.0).alias("o_totalprice"),
    )
    ins_adds = tl.stage_data(inserts, n_files=1)
    for a in ins_adds:
        a["stats"] = {"o_orderkey": [m + 1, m + _IVM_INSERTS]}
    tl.commit(
        "merge",
        add=tl.stage_data_partitioned(
            rewritten, "bucket", stats_col="o_orderkey"
        )
        + ins_adds,
        remove=affected,
        expected_version=expected,
    )

    # the maintenance arm: signed application of the v1..v2 feed
    feed = bucket_of(tl.change_feed(spark, "o_orderkey", from_version=0))
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
        .when(F.col("_change_type").isin("delete", "update_preimage"), -1)
    )
    delta = feed.groupBy("mv_bucket").agg(
        F.sum(sign).alias("dn"),
        F.sum(sign * _dec("o_totalprice")).alias("ds"),
    )
    inc = (
        mv0.join(delta, "mv_bucket", "full_outer")
        .select(
            "mv_bucket",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_rows_inc"
            ),
            (
                F.coalesce(F.col("s0"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(18,2)"))
            ).alias("s_inc"),
        )
        .where(F.col("n_rows_inc") > 0)
    )
    # the verification arm: full rebuild of the final snapshot
    rebuild = (
        bucket_of(tl.read(spark))
        .groupBy("mv_bucket")
        .agg(
            F.count("*").alias("n_rows_rebuild"),
            F.sum(_dec("o_totalprice")).alias("s_reb"),
        )
    )
    return (
        inc.join(rebuild, "mv_bucket", "full_outer")
        .select(
            F.col("mv_bucket").alias("bucket"),
            "n_rows_inc",
            F.col("s_inc").cast("double").alias("sum_inc"),
            "n_rows_rebuild",
            F.col("s_reb").cast("double").alias("sum_rebuild"),
            (
                (F.col("n_rows_inc") == F.col("n_rows_rebuild"))
                & (F.col("s_inc") == F.col("s_reb"))
            ).alias("matches"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Q170 — right-to-be-forgotten VERIFICATION: a GDPR delete isn't the
# DELETE commit (q125) — it's proving the data is GONE, including
# from history. The subject's rows (keys % 97 == 0 in the middle
# third) are removed by a stats-targeted copy-on-write delete, then
# vacuum(retain=1) drops the pre-delete version; the entry then
# verifies every layer an auditor checks:
#
#   * logical: the current snapshot has zero subject rows;
#   * temporal: time travel to the pre-delete version now raises
#     (caught and reported as a boolean — history is really closed);
#   * PHYSICAL: a direct scan of every parquet file left on disk —
#     bypassing the log entirely — finds zero subject rows, i.e. no
#     orphaned file still carries the data (the check naive vacuum
#     implementations fail);
#   * bounded blast radius: exactly the affected-bucket originals
#     were rewritten and reaped (the oracle predicts the count from
#     the bucket arithmetic), so the purge never rewrote the thirds
#     of the table the subject never touched.
#
# Scale design: the delete scans only stats-affected files (q125),
# vacuum is metadata + unlink, and the physical audit is an
# embarrassingly parallel scan that projects one key column.
# ---------------------------------------------------------------------------
@register(
    "q170_gdpr_purge_audit",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    subj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_subject
      FROM orders, mx
      WHERE o_orderkey % 97 = 0
        AND o_orderkey BETWEEN m // 3 AND (2 * m) // 3),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM orders)
    SELECT s.n_subject,
      CAST(0 AS BIGINT) AS current_occurrences,
      CAST(0 AS BIGINT) AS physical_occurrences,
      CAST(1 AS BIGINT) AS n_versions_reachable,
      TRUE AS prevacuum_unreachable,
      CAST(((2 * m) // 3 * 16) // (m + 1)
           - ((m // 3) * 16) // (m + 1) + 1 AS BIGINT) AS files_reaped,
      t.n_tot - s.n_subject AS rows_after
    FROM subj s, tot t, mx
    """,
)
def q170_gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q170")
    lo, hi = m // 3, (2 * m) // 3
    condemned = (F.col("o_orderkey") % 97 == 0) & F.col(
        "o_orderkey"
    ).between(lo, hi)
    n_subject = int(
        table(spark, sf_dir, "orders").where(condemned).count()
    )
    expected = tl.latest_version()
    _all, affected = tl.scan_files("o_orderkey", lo, hi, version=expected)
    aff_df = spark.read.parquet(*[str(tl.root / f) for f in affected])
    survivors = _with_bucket(aff_df.where(~condemned).drop("bucket"), m)
    tl.commit(
        "gdpr_delete",
        add=tl.stage_data_partitioned(
            survivors, "bucket", stats_col="o_orderkey"
        ),
        remove=affected,
        expected_version=expected,
    )
    report = tl.vacuum(retain_versions=1)
    # layer 1: logical — current snapshot
    current = int(tl.read(spark).where(condemned).count())
    # layer 2: temporal — pre-delete history must be closed
    try:
        tl.read(spark, version=0).count()
        prevacuum_unreachable = False
    except Exception:
        prevacuum_unreachable = True
    # layer 3: physical — every file left on disk, log bypassed
    physical = int(
        spark.read.parquet(str(tl.data_dir)).where(condemned).count()
    )
    rows_after = int(tl.read(spark).count())
    return spark.createDataFrame(
        [
            (
                n_subject,
                current,
                physical,
                len(tl.versions()),
                prevacuum_unreachable,
                int(report["n_data_files_removed"]),
                rows_after,
            )
        ],
        "n_subject BIGINT, current_occurrences BIGINT, "
        "physical_occurrences BIGINT, n_versions_reachable BIGINT, "
        "prevacuum_unreachable BOOLEAN, files_reaped BIGINT, "
        "rows_after BIGINT",
    )


# ---------------------------------------------------------------------------
# Q187 — streaming MERGE (CDC apply) into the commit log: a multi-
# batch event stream upserts a per-user profile table via foreachBatch
# — existing users accumulate counts and roll their last-event field
# forward, new users insert — with one idempotent transactional commit
# per micro-batch (q128's exactly-once txn contract) and a full
# redelivery pass proving replays no-op. This is the lakehouse
# "streaming upsert" pattern (Delta's foreachBatch-MERGE): q128 showed
# exactly-once APPEND; this shows exactly-once STATE.
#
# Redelivery goes through the sink itself, as a real foreachBatch
# replay does: upsert's txn_applied gate returns before the batch is
# aggregated, merged or staged, so a replay costs no Spark action and
# leaves no data file behind (every file under data/ is referenced by
# some commit). q128 owns the crash-after-write half of the contract:
# a retry that stages its files again before reaching the idempotent
# commit, whose staged file is then dropped as an unreferenced orphan.
#
# Determinism under real multi-batch (events staged to 4 files,
# maxFilesPerTrigger=1, so batch boundaries are engine-chosen): the
# merged state is ORDER-INDEPENDENT — counts are associative sums and
# last-event is an argmax over the totally-ordered (ts_us, event_id)
# struct (greatest() is associative and commutative) — the q138
# lesson applied to MERGE. The oracle computes the same final state
# from the raw events in one shot.
#
# Scale design: each batch aggregates to per-user grain BEFORE
# touching the table (map-side combinable), and the upsert is a
# full-outer join of two keyed aggregates. The rewrite here is
# copy-on-write of the whole profile table per batch — at 100 TB the
# rewrite set narrows to the stats-affected files exactly as q126
# does batch-side; the commit protocol (stage, idempotent txn,
# remove+add) is unchanged.
# ---------------------------------------------------------------------------
@register(
    "q187_stream_cdc_upsert",
    oracle="""
    WITH sel AS (
      SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    last AS (
      SELECT user_id, event_type AS last_type FROM sel WHERE rn = 1),
    cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
    SELECT l.last_type,
      CAST(COUNT(*) AS BIGINT) AS n_users,
      CAST(SUM(c.n_events) AS BIGINT) AS sum_events,
      CAST(4 AS BIGINT) AS n_versions,
      TRUE AS redelivery_skipped
    FROM last l JOIN cnt c ON c.user_id = l.user_id
    GROUP BY l.last_type
    ORDER BY l.last_type
    """,
)
def q187_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hive_clone_spark.catalog import table as _table
    from hive_clone_spark.streaming.streams import EVENTS_SCHEMA, run_foreach

    # stage the events into 4 files -> a genuine 4-batch stream
    staged = _warehouse_dir(sf_dir, "cdc_q187_src")
    _table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(staged)

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q187")).create()
    ckpt = _warehouse_dir(sf_dir, "txlog_q187_ckpt")
    delivered: list[int] = []

    def batch_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("etype"),
                )
            ).alias("last"),
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        txn = f"q187-{batch_id}"
        if tl.txn_applied(txn):
            return
        b = batch_agg(batch_df)
        if tl.active_files():
            cur = tl.read(spark).select(
                F.col("user_id"),
                F.col("n_events").alias("cur_n"),
                F.col("last").alias("cur_last"),
            )
            merged = cur.join(b, "user_id", "full_outer").select(
                "user_id",
                (
                    F.coalesce("cur_n", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                F.greatest("cur_last", "last").alias("last"),
            )
            removes = tl.active_files()
        else:
            merged, removes = b, []
        tl.commit_idempotent(
            txn, "stream-merge", add=tl.stage_data(merged, 2),
            remove=removes,
        )
        delivered.append(batch_id)

    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(staged, "*.parquet"))
    )
    run_foreach(src, upsert, ckpt)

    versions_after_drain = tl.latest_version() + 1
    # full redelivery through the sink; the events payload is read only
    # if the gate fails open, and then an applied upsert appends to
    # ``delivered`` — hence the copy
    redelivered = spark.read.schema(EVENTS_SCHEMA).parquet(
        os.path.join(staged, "*.parquet")
    )
    for batch_id in list(delivered):
        upsert(redelivered, batch_id)
    skipped = tl.latest_version() + 1 == versions_after_drain

    back = tl.read(spark)
    return (
        back.select(
            F.col("last.etype").alias("last_type"), F.col("n_events")
        )
        .groupBy("last_type")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_events").cast("long").alias("sum_events"),
        )
        .select(
            "last_type",
            "n_users",
            "sum_events",
            F.lit(versions_after_drain).cast("long").alias("n_versions"),
            F.lit(bool(skipped)).alias("redelivery_skipped"),
        )
        .orderBy("last_type")
    )


# ---------------------------------------------------------------------------
# Q195 — tamper-evident audit chain over the commit log: each commit's
# ledger entry is hash-chained to its predecessor
# (h_v = md5(h_{v-1} || v:op:n_added), genesis-seeded), so any
# historical commit edit invalidates every later hash — the
# append-only audit property compliance regimes ask of a warehouse
# changelog, layered on the REAL txlog (the entry builds the table,
# reads history() back from the log, and derives per-commit row deltas
# from version snapshots; tests/test_txlog.py pins that a tampered
# commit json breaks the chain). The oracle recomputes the identical
# chain from the construction rule with DuckDB's md5 — same digest,
# same canonical string, so a chain computed over the wrong history
# hash-mismatches.
#
# Scale design: the chain walks COMMIT METADATA (bounded by log
# length, checkpoint-truncated in production), never data; the
# per-version row deltas come from snapshot counts, each a
# metadata-cheap aggregate over the version's file set.
# ---------------------------------------------------------------------------
def chain_ledger(tl: "TxLog", spark: SparkSession) -> list[tuple]:
    """(version, op, n_rows_added, chain_hash) for every commit."""
    import hashlib

    history = tl.history()
    # per-version counts are independent of the (strictly sequential)
    # hash chain: ONE unioned job computes them all as parallel arms,
    # instead of driver-sequencing a count action per version (§2.6)
    counts: dict[int, int] = {}
    if history:
        arms = [
            tl.read(spark, version=int(e["version"]))
            .agg(F.count("*").alias("n"))
            .select(F.lit(int(e["version"])).alias("v"), "n")
            for e in history
        ]
        cnt = arms[0]
        for a in arms[1:]:
            cnt = cnt.unionAll(a)
        counts = {int(r["v"]): int(r["n"]) for r in cnt.collect()}
    rows = []
    h = "genesis"
    prev_count = 0
    for entry in history:
        v = int(entry["version"])
        n = counts[v]
        added = n - prev_count
        prev_count = n
        h = hashlib.md5(
            f"{h}{v}:{entry['op']}:{added}".encode()
        ).hexdigest()
        rows.append((v, entry["op"], added, h))
    return rows


@register(
    "q195_txlog_audit_chain",
    oracle="""
    WITH n AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END)
          AS BIGINT) AS n2
      FROM orders),
    h AS (
      SELECT n0, n1, n2,
        md5('genesis' || '0:append:' || CAST(n0 AS VARCHAR)) AS h0
      FROM n),
    h2 AS (
      SELECT *, md5(h0 || '1:append:' || CAST(n1 AS VARCHAR)) AS h1
      FROM h),
    h3 AS (
      SELECT *, md5(h1 || '2:append:' || CAST(n2 AS VARCHAR)) AS h2x
      FROM h2)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      n0 AS n_rows_added, h0 AS chain_hash FROM h3
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'append', n1, h1 FROM h3
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'append', n2, h2x FROM h3
    ORDER BY version
    """,
)
def q195_txlog_audit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table as _table

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q195")).create()
    o = _table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        tl.append(o.where(F.col("o_orderkey") % 4 == m), n_files=2)
    rows = chain_ledger(tl, spark)
    return spark.createDataFrame(
        rows, "version BIGINT, op STRING, n_rows_added BIGINT, chain_hash STRING"
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Q196 — RESTORE (rollback as a forward commit): reverting a table to
# an earlier version is published as a NEW commit whose file set is
# the old version's — history stays append-only (the audit chain
# q195 protects keeps every step, including the mistake and its
# correction), time travel still reaches the bad version, and
# concurrent readers never see a log rewrite. The entry makes three
# versions, "fat-fingers" v2 as an overwrite that drops half the
# rows, restores v1, and proves (a) the restored read equals the v1
# snapshot exactly and (b) history shows 4 commits, not 3.
#
# Scale design: restore is METADATA-ONLY — the commit re-references
# the old version's files (no data copied, no rewrite); cost is the
# log append, independent of table size. That property is the whole
# point of log-structured tables. Round 13 promoted the original
# file-set-diff helper here into TxLog.restore, which also rolls back
# DV bindings, schema, constraints, and column mapping, guards
# against vacuumed targets, and is SQL-lowered (RESTORE TABLE ... TO
# VERSION AS OF — q261); this entry exercises the same method on the
# classic fat-finger-overwrite scenario.
# ---------------------------------------------------------------------------
@register(
    "q196_txlog_restore",
    oracle="""
    WITH good AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY o_orderstatus)
    SELECT o_orderstatus, n_orders, sum_price,
      CAST(4 AS BIGINT) AS n_commits,
      'restore' AS last_op,
      TRUE AS matches_v1
    FROM good ORDER BY o_orderstatus
    """,
)
def q196_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table as _table

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q196")).create()
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tl.append(o.where(F.col("o_orderkey") % 4 == 0), n_files=2)  # v0
    tl.append(o.where(F.col("o_orderkey") % 4 == 2), n_files=2)  # v1: evens
    # v2: the bad overwrite (loses the %4==2 half)
    tl.overwrite(o.where(F.col("o_orderkey") % 4 == 0), n_files=2)
    tl.restore(spark, 1)  # v3: metadata-only rollback to the full even set

    back = tl.read(spark)
    v1 = tl.read(spark, version=1)
    same = (
        back.unionAll(v1)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") != 2)
        .count()
        == 0
    ) and back.count() == v1.count()
    n_commits = tl.latest_version() + 1
    last_op = tl.history()[-1]["op"]
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "sum_price",
            F.lit(int(n_commits)).cast("long").alias("n_commits"),
            F.lit(last_op).alias("last_op"),
            F.lit(bool(same)).alias("matches_v1"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q206 — SHALLOW CLONE (zero-copy table fork): a new table whose
# first commit REFERENCES the source snapshot's data files instead of
# copying them — Delta's CLONE / Iceberg's snapshot-ref pattern. The
# clone then evolves independently: its appends land in its OWN data
# dir and its commits never touch the source log, so dev/test forks
# of a 100 TB production table cost one metadata commit, not 100 TB
# of copy. Because both logs name immutable files, isolation needs no
# coordination at all — the source can vacuum only ITS unreferenced
# files (a production system tracks cross-clone references before
# physical delete; this clone's commit records `cloned_from` so such
# a reference walk has its anchor).
#
# The entry proves the three clone contracts: (1) the clone's read at
# the fork equals the source snapshot exactly (value-checked via the
# status rollup), (2) a post-fork append to the clone is invisible to
# the source, (3) zero data files were copied — every source-snapshot
# file in the clone's active set is the SOURCE's physical path.
# ---------------------------------------------------------------------------
def shallow_clone(src: TxLog, dest_root: str, version: int | None = None) -> TxLog:
    """Create a new TxLog at ``dest_root`` whose commit 0 references
    the source snapshot's files by absolute path (stats and DV
    bindings carried along; nothing is copied)."""
    at = src.latest_version() if version is None else version
    files, stats, dvs, cons, _schema, _meta = src._replay(at)
    add = []
    for f in sorted(files):
        a = {"file": str((src.root / f).resolve())}
        if f in stats:
            a["stats"] = stats[f]
        add.append(a)
    dv = [
        {"file": str((src.root / f).resolve()), "dv": str((src.root / p).resolve())}
        for f, p in sorted(dvs.items())
        if f in files
    ]
    dest = TxLog(dest_root).create()
    # the clone inherits the source's logical schema, table metadata
    # (the column mapping — without it a clone of a renamed table
    # exposes physical names / NULL-fills the logical ones), and CHECK
    # constraints as of the fork — a later change in the source must
    # not leak into the clone
    meta = src.table_meta(at)
    dest.commit(
        f"clone-from-v{at}",
        add=add,
        dv=dv or None,
        schema=_schema,
        meta=meta or None,
        constraints=cons or None,
    )
    return dest


@register(
    "q206_txlog_shallow_clone",
    oracle="""
    WITH src AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_src,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS src_price
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY o_orderstatus),
    cl AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_clone,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS clone_price
      FROM orders GROUP BY o_orderstatus)
    SELECT s.o_orderstatus, s.n_src, s.src_price,
      c.n_clone, c.clone_price,
      TRUE AS fork_matches_source,
      TRUE AS source_isolated,
      CAST(0 AS BIGINT) AS n_files_copied,
      TRUE AS all_fork_files_shared
    FROM src s JOIN cl c ON c.o_orderstatus = s.o_orderstatus
    ORDER BY s.o_orderstatus
    """,
)
def q206_txlog_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table as _table

    src = TxLog(_warehouse_dir(sf_dir, "txlog_q206_src")).create()
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src.append(o.where(F.col("o_orderkey") % 3 == 0), n_files=2)  # v0
    src.append(o.where(F.col("o_orderkey") % 3 == 1), n_files=2)  # v1
    fork_version = src.latest_version()
    src_files_at_fork = {
        str((src.root / f).resolve()) for f in src.active_files(fork_version)
    }

    clone = shallow_clone(
        src, _warehouse_dir(sf_dir, "txlog_q206_clone"), fork_version
    )
    fork_read = clone.read(spark)
    src_read = src.read(spark, version=fork_version)
    fork_matches = (
        fork_read.unionAll(src_read)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") != 2)
        .count()
        == 0
    ) and fork_read.count() == src_read.count()

    # diverge the clone; the source must not see it
    clone.append(o.where(F.col("o_orderkey") % 3 == 2), n_files=2)
    source_isolated = (
        src.latest_version() == fork_version
        and src.read(spark).count() == src_read.count()
    )
    # zero-copy evidence: the fork-snapshot files in the clone's active
    # set ARE the source's physical paths (no data/ copies were made)
    clone_active = {
        str((clone.root / f).resolve()) for f in clone.active_files(0)
    }
    all_shared = clone_active == src_files_at_fork
    n_copied = len(clone_active - src_files_at_fork)

    def rollup(df: DataFrame, n_col: str, p_col: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias(p_col),
        )

    return (
        rollup(src_read, "n_src", "src_price")
        .join(
            rollup(clone.read(spark), "n_clone", "clone_price"),
            "o_orderstatus",
        )
        .select(
            "o_orderstatus",
            "n_src",
            "src_price",
            "n_clone",
            "clone_price",
            F.lit(bool(fork_matches)).alias("fork_matches_source"),
            F.lit(bool(source_isolated)).alias("source_isolated"),
            F.lit(int(n_copied)).cast("long").alias("n_files_copied"),
            F.lit(bool(all_shared)).alias("all_fork_files_shared"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q210 — the FILES metadata table (Iceberg's `table$files` / Delta's
# DESCRIBE DETAIL surface): expose the commit log's per-file metadata
# — path identity, recorded min/max stats — AS a queryable DataFrame,
# and audit it against the physical truth by re-aggregating each
# file's actual rows via _metadata.file_path. A stats entry that
# drifts from its file (the failure mode that silently breaks
# skipping-based pruning AND stats-based deletes) flips the
# per-bucket `stats_truthful` flag and the hash.
#
# Scale design: the metadata side is pure log work (O(files), no data
# IO — what makes `SELECT * FROM t$files` instant on a 100 TB table);
# the audit side is ONE scan grouped by file identity, the same
# file-grain aggregate a stats REFRESH would run. Per-bucket output
# stays schema-bounded.
# ---------------------------------------------------------------------------
@register(
    "q210_txlog_files_metadata",
    oracle=f"""
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
    b AS (
      SELECT CAST(floor((o_orderkey * {_SKIP_BUCKETS}) / (mx + 1))
                  AS INT) AS bucket,
        o_orderkey
      FROM orders, m)
    SELECT CAST(bucket AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(MIN(o_orderkey) AS BIGINT) AS stat_min,
      CAST(MAX(o_orderkey) AS BIGINT) AS stat_max,
      TRUE AS stats_truthful
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q210_txlog_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl, m = _stage_bucketed_orders(spark, sf_dir, "txlog_q210")
    # metadata side: one row per active file straight from the log
    _, stats, _, _, _, _ = tl._replay(tl.latest_version())
    meta_rows = [
        (f, int(s["o_orderkey"][0]), int(s["o_orderkey"][1]))
        for f, s in stats.items()
    ]
    meta = spark.createDataFrame(
        meta_rows, "file STRING, stat_min BIGINT, stat_max BIGINT"
    )
    # audit side: per-file physical truth from ONE scan
    actual = (
        tl.read(spark)
        .select(
            F.concat(
                F.lit("data/"),
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            ).alias("file"),
            "o_orderkey",
        )
        .groupBy("file")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("act_min"),
            F.max("o_orderkey").alias("act_max"),
        )
    )
    joined = meta.join(actual, "file")
    # file names are opaque uuids; bucket identity = the stats range
    # position (stage_data_partitioned wrote one file per bucket)
    w_bucket = F.floor(
        (F.col("stat_min") * _SKIP_BUCKETS) / F.lit(int(m) + 1)
    ).cast("long")
    return (
        joined.select(
            w_bucket.alias("bucket"),
            "n_rows",
            "stat_min",
            "stat_max",
            (
                (F.col("stat_min") == F.col("act_min"))
                & (F.col("stat_max") == F.col("act_max"))
            ).alias("stats_truthful"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Q215 — OPTIMIZE with re-clustering (Delta's OPTIMIZE ZORDER /
# Iceberg's rewrite_data_files sort strategy, in its 1-D form): the
# table starts HASH-laid-out (o_orderkey % 8 — every file spans the
# whole o_custkey domain, so custkey-range stats prune nothing),
# then ONE atomic commit replaces all files with a custkey-RANGE
# clustering and fresh stats. The ledger proves what OPTIMIZE is
# for: the same probe predicate that scanned 8/8 files before scans
# only the overlapping few after, while row counts and the decimal-
# exact revenue prove the rewrite changed layout and nothing else.
# The oracle replays the skipping decision bit-for-bit (per-bucket
# min/max vs the probe range — q167's replay discipline applied to
# clustering).
#
# Scale design: clustering cost is one range-shuffle write; its
# payoff is metadata-only forever after (every stats-gated read,
# delete, and MERGE touches fewer files). The commit is atomic —
# readers see the old or the new layout, never a mix; concurrency
# follows the optimistic token like every other txlog write.
# ---------------------------------------------------------------------------
_OPT_FILES = 8


@register(
    "q215_txlog_optimize_clustering",
    oracle=f"""
    WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
    probe AS (
      SELECT mx // 4 AS lo, mx // 2 AS hi FROM m),
    hash_layout AS (
      SELECT o_orderkey % {_OPT_FILES} AS b,
        MIN(o_custkey) AS mn, MAX(o_custkey) AS mxk
      FROM orders GROUP BY 1),
    range_layout AS (
      SELECT CAST(floor((o_custkey * {_OPT_FILES}) / (mx + 1)) AS INT) AS b,
        MIN(o_custkey) AS mn, MAX(o_custkey) AS mxk
      FROM orders, m GROUP BY 1),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS rev_cents
      FROM orders, probe WHERE o_custkey BETWEEN lo AND hi)
    SELECT 'before_optimize' AS phase,
      CAST({_OPT_FILES} AS BIGINT) AS n_files_active,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM hash_layout, probe
       WHERE mn <= hi AND mxk >= lo) AS n_files_scanned,
      h.n_rows, h.rev_cents
    FROM hits h
    UNION ALL
    SELECT 'after_optimize',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM range_layout),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM range_layout, probe
       WHERE mn <= hi AND mxk >= lo),
      h.n_rows, h.rev_cents
    FROM hits h
    ORDER BY phase
    """,
)
def q215_txlog_optimize_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table as _table

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q215")).create()
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    m = o.agg(F.max("o_custkey")).collect()[0][0]
    lo, hi = m // 4, m // 2

    hash_df = o.withColumn(
        "bucket", (F.col("o_orderkey") % _OPT_FILES).cast("int")
    )
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(
            hash_df, "bucket", stats_col="o_custkey",
            stats_values=range(_OPT_FILES),
        ),
    )

    def probe(version: int) -> tuple[int, int]:
        all_f, chosen = tl.scan_files("o_custkey", lo, hi, version=version)
        return len(all_f), len(chosen)

    before_active, before_scanned = probe(tl.latest_version())
    # the pruned file LIST is resolved now (log metadata); the data
    # files survive the optimize commit untouched (removal is logical
    # until vacuum), so the v0 aggregate is DEFERRED and folded with
    # the post-optimize one into a single two-arm job below
    pruned0 = spark.read.parquet(
        *[str(tl.root / f) for f in tl.scan_files("o_custkey", lo, hi)[1]]
    )
    hit0_df = pruned0.where(F.col("o_custkey").between(lo, hi)).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    ).select(F.lit(0).alias("arm"), "n_rows", "rev_cents")

    # OPTIMIZE: one atomic commit swaps hash layout for range clustering
    range_df = o.withColumn(
        "bucket",
        F.floor((F.col("o_custkey") * _OPT_FILES) / (int(m) + 1)).cast("int"),
    )
    tl.commit(
        "optimize-cluster",
        add=tl.stage_data_partitioned(
            range_df, "bucket", stats_col="o_custkey",
            stats_values=range(_OPT_FILES),
        ),
        remove=tl.active_files(),
        expected_version=tl.latest_version(),
    )
    after_active, after_scanned = probe(tl.latest_version())
    pruned1 = spark.read.parquet(
        *[str(tl.root / f) for f in tl.scan_files("o_custkey", lo, hi)[1]]
    )
    hit1_df = pruned1.where(F.col("o_custkey").between(lo, hi)).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    ).select(F.lit(1).alias("arm"), "n_rows", "rev_cents")
    hits = {
        int(r["arm"]): r for r in hit0_df.unionByName(hit1_df).collect()
    }
    hit0, hit1 = hits[0], hits[1]

    return spark.createDataFrame(
        [
            (
                "before_optimize",
                before_active,
                before_scanned,
                int(hit0["n_rows"]),
                int(hit0["rev_cents"]),
            ),
            (
                "after_optimize",
                after_active,
                after_scanned,
                int(hit1["n_rows"]),
                int(hit1["rev_cents"]),
            ),
        ],
        "phase STRING, n_files_active BIGINT, n_files_scanned BIGINT, "
        "n_rows BIGINT, rev_cents BIGINT",
    ).orderBy("phase")


# ---------------------------------------------------------------------------
# Q231 — column mapping: rename a column WITHOUT rewriting a byte of
# data (Delta's column-mapping protocol, Iceberg's field-ids). Data
# files carry opaque PHYSICAL names (c1, c2, c3); the logical schema
# lives in table metadata (TxLog.table_meta — full-replacement
# commits folded into checkpoints like constraints). A rename is then
# a METADATA-ONLY commit: the v1 history row shows 0 files
# added/removed while the logical name changes — the zero-rewrite
# evidence — and reads at v0 and v1 return byte-identical data under
# the two names (identical n_rows / cents-sum / name-length checksum
# on both arms).
#
# At 100 TB this is the difference between an O(1) catalog operation
# and a full-table rewrite; physical-name indirection is also what
# makes dropping/re-adding a same-named column safe (the physical
# name is never reused, so stale files can't resurrect old data).
# ---------------------------------------------------------------------------
_Q231_MAP_V0 = {"part_id": "c1", "part_name": "c2", "retail_cents": "c3"}
_Q231_MAP_V1 = {"part_id": "c1", "part_title": "c2", "retail_cents": "c3"}


def _read_mapped(spark: SparkSession, tl: TxLog, version: int) -> DataFrame:
    mapping = tl.table_meta(version)["mapping"]
    df = spark.read.parquet(
        *[str(tl.root / f) for f in tl.active_files(version)]
    )
    return df.select(
        *[F.col(phys).alias(logical) for logical, phys in sorted(mapping.items())]
    )


@register(
    "q231_txlog_column_mapping",
    oracle="""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS sum_cents,
        CAST(SUM(length(p_name)) AS BIGINT) AS name_len_sum
      FROM part),
    schema_rows AS (
      SELECT * FROM (VALUES
        ('schema', 0, 'part_id', 'c1', 4),
        ('schema', 0, 'part_name', 'c2', 4),
        ('schema', 0, 'retail_cents', 'c3', 4),
        ('schema', 1, 'part_id', 'c1', 0),
        ('schema', 1, 'part_title', 'c2', 0),
        ('schema', 1, 'retail_cents', 'c3', 0)
      ) t(arm, version, logical, physical, n_files_changed))
    SELECT arm, CAST(version AS INT) AS version, logical, physical,
      CAST(n_files_changed AS INT) AS n_files_changed,
      CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS sum_cents,
      CAST(NULL AS BIGINT) AS name_len_sum
    FROM schema_rows
    UNION ALL
    SELECT 'data', v.version, v.logical, 'c2', NULL,
      agg.n_rows, agg.sum_cents, agg.name_len_sum
    FROM agg,
      (VALUES (CAST(0 AS INT), 'part_name'), (CAST(1 AS INT), 'part_title'))
        v(version, logical)
    ORDER BY arm, version, logical
    """,
)
def q231_txlog_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q231")).create()
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("c1"),
        F.col("p_name").alias("c2"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("c3"),
    )
    tl.commit("create", add=tl.stage_data(p, 4), meta={"mapping": _Q231_MAP_V0})
    # the rename: metadata-only — zero add/remove actions
    tl.commit("rename-column", meta={"mapping": _Q231_MAP_V1})

    hist = {h["version"]: h for h in tl.history()}
    schema_rows = []
    for version, mapping in ((0, _Q231_MAP_V0), (1, _Q231_MAP_V1)):
        changed = hist[version]["n_added"] + hist[version]["n_removed"]
        for logical, phys in sorted(mapping.items()):
            schema_rows.append(("schema", version, logical, phys, changed))
    schema_df = spark.createDataFrame(
        schema_rows,
        "arm STRING, version INT, logical STRING, physical STRING, "
        "n_files_changed INT",
    ).select(
        "*",
        F.lit(None).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("sum_cents"),
        F.lit(None).cast("long").alias("name_len_sum"),
    )

    def data_arm(version: int, name_col: str) -> DataFrame:
        df = _read_mapped(spark, tl, version)
        return df.agg(
            F.lit("data").alias("arm"),
            F.lit(version).cast("int").alias("version"),
            F.lit(name_col).alias("logical"),
            F.lit("c2").alias("physical"),
            F.lit(None).cast("int").alias("n_files_changed"),
            F.count("*").alias("n_rows"),
            F.sum("retail_cents").cast("long").alias("sum_cents"),
            F.sum(F.length(name_col)).cast("long").alias("name_len_sum"),
        )

    return (
        schema_df.unionByName(data_arm(0, "part_name"))
        .unionByName(data_arm(1, "part_title"))
        .orderBy("arm", "version", "logical")
    )


# ---------------------------------------------------------------------------
# Q232 — identity columns via reserved ranges: monotonically-assigned
# unique row ids WITHOUT a global sort or a single-writer counter —
# the Delta identity-column mechanism. Each commit reserves a range
# [high-water-mark, hwm + n) from table metadata; each add-action records
# its file's base offset within the range; a row's id materializes at
# READ time as base + _metadata.row_index (position-based, the q148
# DV trick — no id column is ever written to parquet). Uniqueness and
# contiguity are structural: ranges don't overlap and bases partition
# the range.
#
# Determinism for the oracle: files are bucket-sliced (o_orderkey % 4)
# and written sorted by orderkey, so every row's id is a pure function
# of the data — the oracle recomputes ids with window functions (base
# = cumulative bucket counts in (batch, bucket) order, offset = rank
# within bucket) and pins an id⊗key association checksum, so a row
# order scramble anywhere in write or read fails the hash.
#
# At 100 TB: id assignment is O(1) metadata per commit + a zero-cost
# virtual column per read; no shuffle, no coordination beyond the
# optimistic commit itself. Concurrent writers conflict on the commit
# slot (not the range) and retry with a fresh hwm — ids stay unique.
# ---------------------------------------------------------------------------
_Q232_BUCKETS = 4


def _stage_sorted_buckets(tl: TxLog, df: DataFrame, bucket_col: str, order_col: str) -> list[tuple[int, str, int]]:
    """One sorted parquet file per bucket value; returns
    (bucket, relpath, n_rows) in bucket order. Staged on every core,
    as in ``TxLog.stage_data_partitioned``."""
    import pyarrow.parquet as pq

    stage = tl.root / f"_stage-{uuid.uuid4().hex}"
    (
        spread(df, bucket_col)
        .sortWithinPartitions(bucket_col, order_col)
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(str(stage))
    )
    out = []
    for vdir in sorted(
        stage.glob(f"{bucket_col}=*"), key=lambda p: int(p.name.split("=")[1])
    ):
        bucket = int(vdir.name.split("=", 1)[1])
        parts = sorted(vdir.glob("*.parquet"))
        assert len(parts) == 1, f"bucket {bucket}: {len(parts)} files"
        name = f"{uuid.uuid4().hex}.parquet"
        n = pq.read_metadata(parts[0]).num_rows
        os.replace(parts[0], tl.data_dir / name)
        out.append((bucket, f"data/{name}", n))
    shutil.rmtree(stage)
    return out


@register(
    "q232_txlog_identity_columns",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderdate < DATE '1997-01-01' THEN 0 ELSE 1 END AS batch,
        o_orderkey % 4 AS bucket
      FROM orders),
    fc AS (
      SELECT batch, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM o GROUP BY batch, bucket),
    fb AS (
      SELECT batch, bucket, n,
        COALESCE(SUM(n) OVER (ORDER BY batch, bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      FROM fc),
    ids AS (
      SELECT o.k,
        fb.base + ROW_NUMBER() OVER (PARTITION BY o.batch, o.bucket
                                     ORDER BY o.k) - 1 AS id
      FROM o JOIN fb ON fb.batch = o.batch AND fb.bucket = o.bucket),
    file_rows AS (
      SELECT 'file' AS arm, CAST(batch * 10 + bucket AS INT) AS seq,
        CAST(base AS BIGINT) AS base, n AS n_rows,
        CAST(NULL AS BIGINT) AS min_id, CAST(NULL AS BIGINT) AS max_id,
        CAST(NULL AS BIGINT) AS n_distinct, CAST(NULL AS BIGINT) AS checksum
      FROM fb),
    table_row AS (
      SELECT 'table' AS arm, CAST(NULL AS INT) AS seq,
        CAST(NULL AS BIGINT) AS base,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id,
        CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct,
        CAST(SUM(id * (k % 97)) AS BIGINT) AS checksum
      FROM ids)
    SELECT * FROM file_rows
    UNION ALL SELECT * FROM table_row
    ORDER BY arm, seq
    """,
)
def q232_txlog_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q232")).create()
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % _Q232_BUCKETS).alias("bucket"),
        F.col("o_orderdate"),
    )
    batches = [
        o.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")),
        o.where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")),
    ]
    file_rows = []
    for bi, bdf in enumerate(batches):
        hwm = int(tl.table_meta().get("identity_next", 0))
        staged = _stage_sorted_buckets(tl, bdf.drop("o_orderdate"), "bucket", "k")
        adds, base = [], hwm
        for bucket, relpath, n in staged:
            adds.append(
                {"file": relpath, "identity_base": base, "n_rows": n}
            )
            file_rows.append(("file", bi * 10 + bucket, base, n))
            base += n
        tl.commit(
            "append", add=adds, meta={"identity_next": base},
            expected_version=tl.latest_version(),
        )

    # read path: id = per-file reserved base + _metadata.row_index
    bases = []
    for v in tl.versions():
        for a in tl._read_commit(v).get("add", []):
            bases.append(
                (os.path.basename(a["file"]), int(a["identity_base"]))
            )
    bases_df = spark.createDataFrame(bases, "fname STRING, base BIGINT")
    data = spark.read.parquet(*[str(tl.root / f) for f in tl.active_files()])
    data = data.select(
        "k",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "fname"
        ),
        F.col("_metadata.row_index").alias("row_index"),
    )
    ids = data.join(F.broadcast(bases_df), "fname").select(
        "k", (F.col("base") + F.col("row_index")).alias("id")
    )
    table_row = ids.agg(
        F.lit("table").alias("arm"),
        F.lit(None).cast("int").alias("seq"),
        F.lit(None).cast("long").alias("base"),
        F.count("*").alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.countDistinct("id").alias("n_distinct"),
        F.sum(F.col("id") * (F.col("k") % 97)).cast("long").alias("checksum"),
    )
    files_df = spark.createDataFrame(
        file_rows, "arm STRING, seq INT, base BIGINT, n_rows BIGINT"
    ).select(
        "*",
        F.lit(None).cast("long").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
        F.lit(None).cast("long").alias("n_distinct"),
        F.lit(None).cast("long").alias("checksum"),
    )
    return files_df.unionByName(table_row).orderBy("arm", "seq")


# ---------------------------------------------------------------------------
# Q235 — the change feed as a STREAMING SOURCE: q187 streamed INTO the
# log; this closes the other half — a downstream consumer that wakes,
# reads only the commits past its persisted cursor, folds the signed
# row-level changes into a materialized aggregate, and saves cursor +
# state for the next wake (the Delta "streaming from a table" / CDF-
# source contract, including restart durability).
#
# Two consumer runs: run 1 processes v0 (bulk insert) + v1 (copy-on-
# write status update) and persists state; v2 (mixed insert+delete
# rewrite) lands AFTER run 1, and run 2 — restarted from the cursor
# file like a checkpoint-recovered stream — processes exactly the one
# new version. Exactly-once evidence: the ledger pins per-run change
# and version counts (feed cost ∝ commits processed, never table
# size), and the incrementally-maintained per-status counts match the
# final-snapshot batch truth with zero mismatches.
#
# At 100 TB this IS the materialized-view maintenance loop (q164) with
# the commit log as the delta transport: consumers never rescan the
# table, state merge is a keyed full-outer coalesce, and the cursor
# is the only coordination.
# ---------------------------------------------------------------------------
@register(
    "q235_change_feed_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        o_orderdate < TIMESTAMP '1997-01-01' AS is_old
      FROM orders),
    old AS (SELECT k, s FROM base WHERE is_old),
    upd AS (
      SELECT k, CASE WHEN s = 'O' AND k % 10 = 3 THEN 'P' ELSE s END AS s
      FROM old),
    final AS (
      SELECT k, s FROM upd WHERE k % 10 <> 7
      UNION ALL SELECT k, s FROM base WHERE NOT is_old),
    n0 AS (SELECT COUNT(*) AS n FROM old),
    nupd AS (SELECT COUNT(*) AS n FROM old WHERE s = 'O' AND k % 10 = 3),
    nins AS (SELECT COUNT(*) AS n FROM base WHERE NOT is_old),
    ndel AS (SELECT COUNT(*) AS n FROM upd WHERE k % 10 = 7),
    runs AS (
      SELECT 'run' AS arm, 1 AS run, CAST(NULL AS VARCHAR) AS status,
        CAST(n0.n + 2 * nupd.n AS BIGINT) AS n,
        CAST(2 AS BIGINT) AS m
      FROM n0, nupd
      UNION ALL
      SELECT 'run', 2, NULL, CAST(nins.n + ndel.n AS BIGINT), 1
      FROM nins, ndel),
    state AS (
      SELECT 'state' AS arm, CAST(NULL AS INT) AS run, s AS status,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS BIGINT) AS m
      FROM final GROUP BY s),
    verify AS (
      SELECT 'verify' AS arm, CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        CAST(0 AS BIGINT), CAST(NULL AS BIGINT))
    SELECT * FROM runs
    UNION ALL SELECT * FROM state
    UNION ALL SELECT * FROM verify
    ORDER BY arm, run, status
    """,
)
def q235_change_feed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    root = pathlib.Path(_warehouse_dir(sf_dir, "txlog_q235"))
    tl = TxLog(str(root / "tbl")).create()
    cursor_file = root / "consumer.json"
    state_dir = root / "state"

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderdate").alias("d"),
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    old = o.where(F.col("d") < cutoff).select("k", "s")
    upd = old.select(
        "k",
        F.when((F.col("s") == "O") & (F.col("k") % 10 == 3), "P")
        .otherwise(F.col("s"))
        .alias("s"),
    )
    new_rows = o.where(F.col("d") >= cutoff).select("k", "s")

    def consume(run_id: int) -> tuple[int, int]:
        """Wake, fold commits past the cursor into the state parquet,
        advance the cursor. Returns (n_changes, n_versions)."""
        cur = (
            _json.loads(cursor_file.read_text())["cursor"]
            if cursor_file.exists()
            else -1
        )
        latest = tl.latest_version()
        feed = tl.change_feed(spark, "k", from_version=cur, to_version=latest)
        feed = feed.localCheckpoint(eager=True)  # one pass, reused twice
        n_changes = feed.count()
        sign = (
            F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
            .otherwise(-1)
            .cast("long")
        )
        deltas = feed.groupBy("s").agg(F.sum(sign).alias("dn"))
        if state_dir.exists():
            prev = spark.read.parquet(str(state_dir))
            merged = (
                prev.join(deltas, "s", "full_outer")
                .select(
                    "s",
                    (
                        F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
                    ).alias("n"),
                )
                .where(F.col("n") != 0)
            )
        else:
            merged = deltas.select("s", F.col("dn").alias("n")).where(
                F.col("n") != 0
            )
        tmp = root / f"state-next-{run_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        if state_dir.exists():
            shutil.rmtree(state_dir)
        os.replace(tmp, state_dir)
        cursor_file.write_text(_json.dumps({"cursor": latest}))
        return n_changes, latest - cur

    tl.append(old, n_files=4)  # v0
    tl.overwrite(upd, n_files=4, op="cow-update")  # v1
    run1 = consume(1)
    # v2 lands only after run 1 finished — the consumer must pick up
    # exactly this one version on its next wake
    tl.overwrite(
        upd.where(F.col("k") % 10 != 7).unionByName(new_rows),
        n_files=4,
        op="mixed-rewrite",
    )  # v2
    run2 = consume(2)

    state = spark.read.parquet(str(state_dir)).select(
        F.lit("state").alias("arm"),
        F.lit(None).cast("int").alias("run"),
        F.col("s").alias("status"),
        F.col("n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("m"),
    )
    truth = tl.read(spark).groupBy("s").agg(F.count("*").alias("tn"))
    mismatches = (
        spark.read.parquet(str(state_dir))
        .join(truth, "s", "full_outer")
        .where(
            ~F.coalesce("n", F.lit(0)).eqNullSafe(F.coalesce("tn", F.lit(0)))
        )
        .count()
    )
    ledger = spark.createDataFrame(
        [
            ("run", 1, None, run1[0], run1[1]),
            ("run", 2, None, run2[0], run2[1]),
            ("verify", None, None, mismatches, None),
        ],
        "arm STRING, run INT, status STRING, n BIGINT, m BIGINT",
    )
    return ledger.unionByName(state).orderBy("arm", "run", "status")


# ---------------------------------------------------------------------------
# Schema time travel (round-12 headline fix made driver-visible). The
# logical schema is a versioned COMMIT action, not a shared mutable
# sidecar: after [append (o_orderkey, o_totalprice)] -> [delete-all] ->
# [append (o_orderkey, o_orderstatus, priority_flag)], reading the
# EMPTY middle version must resolve to the FIRST schema — under the old
# last-writer-wins sidecar it read the third commit's schema (the
# round-11 advice scenario, verbatim). Ledger: one row per version with
# the columns the snapshot actually reads at, plus row count and an
# exact key checksum. Delta records the same thing with its metaData
# action; Iceberg with per-snapshot schema ids.
# ---------------------------------------------------------------------------
_SCHEMA_TT_CAP = 10_000


@register(
    "q258_schema_time_travel",
    oracle=f"""
    WITH od AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey <= {_SCHEMA_TT_CAP}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(o_orderkey) AS BIGINT) AS s
      FROM od)
    SELECT CAST(0 AS BIGINT) AS version, n AS n_rows,
      'o_orderkey,o_totalprice' AS cols, s AS key_sum
    FROM agg
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT),
      'o_orderkey,o_totalprice', CAST(0 AS BIGINT)
    FROM agg
    UNION ALL
    SELECT CAST(2 AS BIGINT), n,
      'o_orderkey,o_orderstatus,priority_flag', s
    FROM agg
    ORDER BY version
    """,
)
def q258_schema_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append schema A -> delete-all -> append evolved schema B; read
    every version back. The v1 row proves empty-snapshot schema is
    resolved as of v1 (schema A), not the latest writer's (schema B)."""
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q258")).create()
    base = table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") <= _SCHEMA_TT_CAP
    )
    tl.append(base.select("o_orderkey", "o_totalprice"), n_files=2)  # v0
    tl.commit("delete", remove=tl.active_files())                    # v1
    evolved = base.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderpriority").startswith("1").alias("priority_flag"),
    )
    tl.append(evolved, n_files=2)                                    # v2
    # one action: the three per-version snapshot aggregates union into
    # a single job (parallel stages) instead of 3 sequenced collects;
    # the per-version column list is log metadata (no action)
    arms, cols = [], {}
    for v in (0, 1, 2):
        snap = tl.read(spark, v)
        cols[v] = ",".join(snap.columns)
        arms.append(
            snap.agg(
                F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
            ).select(F.lit(v).alias("v"), "n", "s")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    aggs = {int(r["v"]): r for r in out.collect()}
    rows = [
        (v, int(aggs[v]["n"]), cols[v],
         int(aggs[v]["s"]) if aggs[v]["s"] is not None else 0)
        for v in (0, 1, 2)
    ]
    return spark.createDataFrame(
        rows, "version BIGINT, n_rows BIGINT, cols STRING, key_sum BIGINT"
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Metadata-only ALTER TABLE ADD COLUMN (round 12; the versioned-schema
# action's payoff). Delta and Iceberg evolve schemas by publishing new
# table metadata — zero data files rewritten — and their readers
# NULL-fill the new column for files that predate it. Same here: the
# ALTER is one JSON commit; the snapshot read passes the logical
# schema to the parquet reader (txlog._read_files), which NULL-fills
# per file natively — no mergeSchema footer sweep, no rewrite. At
# 100 TB, adding a column to a petabyte table costs a kilobyte.
# The ledger reads every version: v0 (pre-ALTER layout), v1 (post-
# ALTER: same rows, new column all NULL), v2 (appended rows carry real
# values; pre-ALTER files still NULL-fill).
# ---------------------------------------------------------------------------
_ALTER_CAP = 10_000


@register(
    "q259_alter_add_column",
    oracle=f"""
    WITH lo AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey <= {_ALTER_CAP}),
    hi AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey > {_ALTER_CAP} AND o_orderkey <= {2 * _ALTER_CAP}),
    nlo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lo),
    nhi AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS nt
      FROM hi)
    SELECT CAST(0 AS BIGINT) AS version, nlo.n AS n_rows,
      'o_orderkey,o_totalprice' AS cols,
      CAST(NULL AS BIGINT) AS n_flag_true
    FROM nlo
    UNION ALL
    SELECT CAST(1 AS BIGINT), nlo.n,
      'o_orderkey,o_totalprice,priority_flag', CAST(0 AS BIGINT)
    FROM nlo
    UNION ALL
    SELECT CAST(2 AS BIGINT), nlo.n + nhi.n,
      'o_orderkey,o_totalprice,priority_flag', nhi.nt
    FROM nlo, nhi
    ORDER BY version
    """,
)
def q259_alter_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append -> metadata-only ALTER ADD COLUMN (SQL-lowered) ->
    append rows carrying the new column; read back every version. The
    v1/v2 rows prove pre-ALTER files NULL-fill the evolved column and
    the ALTER itself moved no data (history shows 0 added/removed)."""
    from hive_clone_spark.sqlapi import txlog_sql_dml

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q259")).create()
    o = table(spark, sf_dir, "orders")
    lo = o.where(F.col("o_orderkey") <= _ALTER_CAP).select(
        "o_orderkey", "o_totalprice"
    )
    tl.append(lo, n_files=2)                                         # v0
    txlog_sql_dml(
        spark, tl, 2 * _ALTER_CAP,
        "ALTER TABLE orders_tx ADD COLUMN priority_flag BOOLEAN",
    )                                                                # v1
    alter_commit = tl._read_commit(1)
    assert not alter_commit["add"] and not alter_commit["remove"]
    hi = o.where(
        (F.col("o_orderkey") > _ALTER_CAP)
        & (F.col("o_orderkey") <= 2 * _ALTER_CAP)
    ).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 2 == 0).alias("priority_flag"),
    )
    tl.append(hi, n_files=2)                                         # v2
    # one action: the three per-version aggregates union into one job
    arms, cols = [], {}
    for v in (0, 1, 2):
        snap = tl.read(spark, v)
        cols[v] = ",".join(snap.columns)
        arms.append(
            snap.agg(
                F.count("*").alias("n"),
                (
                    F.sum(F.col("priority_flag").cast("long"))
                    if "priority_flag" in snap.columns
                    else F.lit(None).cast("long")
                ).alias("nt"),
            ).select(F.lit(v).alias("v"), "n", "nt")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    aggs = {int(r["v"]): r for r in out.collect()}
    rows = []
    for v in (0, 1, 2):
        nt = aggs[v]["nt"]
        if "priority_flag" in cols[v].split(",") and nt is None:
            nt = 0  # SUM over all-NULL is NULL; the column exists, so 0
        rows.append((v, int(aggs[v]["n"]), cols[v], nt))
    return spark.createDataFrame(
        rows,
        "version BIGINT, n_rows BIGINT, cols STRING, n_flag_true BIGINT",
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Q260 — ALTER TABLE RENAME COLUMN / DROP COLUMN over the column-mapping
# protocol (round 13; the q231 machinery made first-class). Delta's
# column mapping and Iceberg's field-ids decouple LOGICAL column names
# from the PHYSICAL names parquet files carry, which makes rename a
# pure mapping commit and drop a mapping-retire + logical-schema
# shrink — zero data files touched by either, at any table size. The
# protocol's safety property is pinned by v3: re-ADDing a dropped
# logical name binds a FRESH physical name, so the old bytes (still
# sitting in the immutable files) can never resurrect — the re-added
# column reads all-NULL, not the dropped column's data.
# Ledger: v0 append, v1 rename (0 files), v2 drop (0 files), v3 re-add
# (0 files), v4 append THROUGH the mapping (to_physical conforms the
# frame; new rows carry real values, old rows NULL-fill).
# ---------------------------------------------------------------------------
_RD_CAP = 1000


@register(
    "q260_alter_rename_drop",
    oracle=f"""
    WITH lo AS (
      SELECT p_name,
        CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part WHERE p_partkey <= {_RD_CAP}),
    hi AS (
      SELECT p_name,
        CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
      WHERE p_partkey > {_RD_CAP} AND p_partkey <= {2 * _RD_CAP}),
    alo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(length(p_name)) AS BIGINT) AS l,
        CAST(SUM(cents) AS BIGINT) AS c
      FROM lo),
    ahi AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(length(p_name)) AS BIGINT) AS l,
        CAST(SUM(cents) AS BIGINT) AS c
      FROM hi)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      CAST(2 AS BIGINT) AS n_files_changed, alo.n AS n_rows,
      'part_id,part_name,retail_cents' AS cols,
      alo.l AS name_len_sum, alo.c AS cents_sum
    FROM alo
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'alter-rename-column', CAST(0 AS BIGINT),
      alo.n, 'part_id,part_title,retail_cents', alo.l, alo.c
    FROM alo
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'alter-drop-column', CAST(0 AS BIGINT),
      alo.n, 'part_id,part_title', alo.l, CAST(NULL AS BIGINT)
    FROM alo
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'alter-add-column', CAST(0 AS BIGINT),
      alo.n, 'part_id,part_title,retail_cents', alo.l, CAST(0 AS BIGINT)
    FROM alo
    UNION ALL
    -- COALESCE keeps the v4 arm exact when the hi key slice is empty
    -- (sf0.001): SUM over zero rows is NULL in SQL, but the Spark
    -- ledger reads the column as present-and-all-NULL -> 0, and a
    -- NULL here would also float64-ify the whole pandas column in the
    -- driver's value hash while Spark's stays int64
    SELECT CAST(4 AS BIGINT), 'append-mapped', CAST(1 AS BIGINT),
      alo.n + ahi.n, 'part_id,part_title,retail_cents',
      alo.l + COALESCE(ahi.l, 0), COALESCE(ahi.c, 0)
    FROM alo, ahi
    ORDER BY version
    """,
)
def q260_alter_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append -> RENAME COLUMN -> DROP COLUMN -> re-ADD the dropped
    name -> append through the mapping; read back every version. The
    three ALTER rows prove zero files moved; v3's cents_sum = 0 (not
    the pre-drop sum) proves the fresh-physical-name no-resurrection
    property; v4 proves old files NULL-fill while mapped appends carry
    real values."""
    from hive_clone_spark.sqlapi import txlog_sql_dml

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q260")).create()
    p = table(spark, sf_dir, "part")
    lo = p.where(F.col("p_partkey") <= _RD_CAP).select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("long")
        .alias("retail_cents"),
    )
    tl.append(lo, n_files=2)                                         # v0
    txlog_sql_dml(
        spark, tl, 2 * _RD_CAP,
        "ALTER TABLE part_tx RENAME COLUMN part_name TO part_title",
    )                                                                # v1
    txlog_sql_dml(
        spark, tl, 2 * _RD_CAP,
        "ALTER TABLE part_tx DROP COLUMN retail_cents",
    )                                                                # v2
    txlog_sql_dml(
        spark, tl, 2 * _RD_CAP,
        "ALTER TABLE part_tx ADD COLUMN retail_cents BIGINT",
    )                                                                # v3
    for v in (1, 2, 3):
        c = tl._read_commit(v)
        assert not c["add"] and not c["remove"]  # metadata-only
    hi = p.where(
        (F.col("p_partkey") > _RD_CAP) & (F.col("p_partkey") <= 2 * _RD_CAP)
    ).select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_title"),
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("long")
        .alias("retail_cents"),
    )
    # append THROUGH the mapping: conform logical -> physical names,
    # publish no schema action (the logical schema is unchanged; the
    # stash holds physical names and must not leak)
    tl.commit(
        "append-mapped",
        add=tl.stage_data(tl.to_physical(hi), n_files=1),
        schema=None,
    )                                                                # v4
    hist = {h["version"]: h for h in tl.history()}
    # one action: the five per-version aggregates union into one job
    arms, cols = [], {}
    for v in range(5):
        snap = tl.read(spark, v)
        cols[v] = ",".join(snap.columns)
        name_col = "part_title" if "part_title" in snap.columns else "part_name"
        arms.append(
            snap.agg(
                F.count("*").alias("n"),
                F.sum(F.length(name_col)).alias("l"),
                (
                    F.sum("retail_cents")
                    if "retail_cents" in snap.columns
                    else F.lit(None).cast("long")
                ).alias("c"),
            ).select(F.lit(v).alias("v"), "n", "l", "c")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    aggs = {int(r["v"]): r for r in out.collect()}
    rows = []
    for v in range(5):
        c = aggs[v]["c"]
        if "retail_cents" in cols[v].split(",") and c is None:
            c = 0  # SUM over all-NULL is NULL; the column exists, so 0
        rows.append(
            (
                v,
                hist[v]["op"],
                hist[v]["n_added"] + hist[v]["n_removed"],
                int(aggs[v]["n"]),
                cols[v],
                int(aggs[v]["l"]),
                c,
            )
        )
    return spark.createDataFrame(
        rows,
        "version BIGINT, op STRING, n_files_changed BIGINT, "
        "n_rows BIGINT, cols STRING, name_len_sum BIGINT, "
        "cents_sum BIGINT",
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Q261 — RESTORE TABLE ... TO VERSION AS OF (round 13): Delta-parity
# rollback as ONE file-level net-diff commit. Everything rolls back
# together — active files, deletion-vector bindings, logical schema,
# constraints, column mapping — while the log stays append-only, so
# time travel between the target and the restore still sees the
# undone history and the change feed reports the restore's row-level
# effect (DV unbinds feed as inserts: rows coming back).
#
# At 100 TB: a restore reads and writes ZERO data bytes — the commit
# is proportional to the number of files that changed since the
# target, and every re-exposed byte was already on disk. The guards
# (no restore below the vacuum cutoff; error if a referenced file was
# physically removed) are the same trade Delta documents for
# RESTORE-after-VACUUM.
# ---------------------------------------------------------------------------
_RESTORE_CAP = 700


@register(
    "q261_restore_table",
    oracle=f"""
    WITH lo AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey <= {_RESTORE_CAP}),
    hi AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey > {_RESTORE_CAP}
        AND o_orderkey <= {2 * _RESTORE_CAP}),
    alo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(o_orderkey) AS BIGINT) AS s FROM lo),
    ad AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS s
      FROM lo WHERE o_orderkey % 19 = 0),
    ahi AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS s FROM hi)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op, alo.n AS n_rows,
      'o_orderkey,o_totalprice' AS cols, alo.s AS key_sum
    FROM alo
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete-dv', alo.n - ad.n,
      'o_orderkey,o_totalprice', alo.s - ad.s
    FROM alo, ad
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'alter-add-column', alo.n - ad.n,
      'o_orderkey,o_totalprice,priority_flag', alo.s - ad.s
    FROM alo, ad
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'append', alo.n - ad.n + ahi.n,
      'o_orderkey,o_totalprice,priority_flag', alo.s - ad.s + ahi.s
    FROM alo, ad, ahi
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'restore', alo.n,
      'o_orderkey,o_totalprice', alo.s
    FROM alo
    ORDER BY version
    """,
)
def q261_restore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append -> MoR DELETE (deletion vectors) -> ALTER ADD COLUMN ->
    append evolved rows -> RESTORE TO VERSION AS OF 0 (SQL-lowered);
    read back every version AFTER the restore. The v4 row proves data,
    schema, and DV bindings rolled back in one commit; the v1-v3 rows
    prove the undone history is still time-travelable (append-only
    log). In-entry asserts pin that the restore staged no new data
    files and cleared every DV binding."""
    from hive_clone_spark.sqlapi import txlog_sql_dml

    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q261")).create()
    o = table(spark, sf_dir, "orders")
    lo = o.where(F.col("o_orderkey") <= _RESTORE_CAP).select(
        "o_orderkey", "o_totalprice"
    )
    tl.append(lo, n_files=2)                                         # v0
    tl.delete_where_mor(spark, F.col("o_orderkey") % 19 == 0)        # v1
    txlog_sql_dml(
        spark, tl, 2 * _RESTORE_CAP,
        "ALTER TABLE orders_tx ADD COLUMN priority_flag BOOLEAN",
    )                                                                # v2
    hi = o.where(
        (F.col("o_orderkey") > _RESTORE_CAP)
        & (F.col("o_orderkey") <= 2 * _RESTORE_CAP)
    ).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 2 == 0).alias("priority_flag"),
    )
    tl.append(hi, n_files=1)                                         # v3
    txlog_sql_dml(
        spark, tl, 2 * _RESTORE_CAP,
        "RESTORE TABLE orders_tx TO VERSION AS OF 0",
    )                                                                # v4
    c = tl._read_commit(4)
    # zero data movement: every file the restore re-references was
    # already on disk (no staged rewrites), and the rollback cleared
    # every DV binding
    assert all((tl.root / a["file"]).exists() for a in c["add"])
    assert tl.dvs() == {}
    hist = {h["version"]: h for h in tl.history()}
    # one action: the five per-version aggregates union into one job
    arms, cols = [], {}
    for v in range(5):
        snap = tl.read(spark, v)
        cols[v] = ",".join(snap.columns)
        arms.append(
            snap.agg(
                F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
            ).select(F.lit(v).alias("v"), "n", "s")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    aggs = {int(r["v"]): r for r in out.collect()}
    rows = [
        (
            v,
            hist[v]["op"],
            int(aggs[v]["n"]),
            cols[v],
            int(aggs[v]["s"]) if aggs[v]["s"] is not None else 0,
        )
        for v in range(5)
    ]
    return spark.createDataFrame(
        rows,
        "version BIGINT, op STRING, n_rows BIGINT, cols STRING, "
        "key_sum BIGINT",
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Q262 — REORG TABLE ... APPLY (PURGE) (round 13): fold merge-on-read
# deletion vectors into real rewrites of ONLY the DV-bound files.
# Closes the MoR lifecycle the module docstring promises ("compaction
# later folds DVs into rewrites"): q148 writes the bitmaps, q262
# retires them. The ledger pins the scale contract arithmetically:
# the purge commit touches 2 x (files that carried a binding) — here
# 6 of 16+ — never the table's whole file set, and the row set and
# key checksum are bit-identical before/after (a purge is physical
# reorganization, row-invisible; the change feed over it is empty,
# asserted in-entry).
#
# At 100 TB: a GDPR delete hides rows in kilobytes of bitmaps
# (q148), and the weekly purge rewrites only the files those bitmaps
# touch — both ends of the lifecycle stay proportional to affected
# files, not table size. Bucketed layout and skipping stats are
# preserved through the rewrite via the stage callable.
# ---------------------------------------------------------------------------
_PURGE_CAP = 700


@register(
    "q262_reorg_purge",
    oracle=f"""
    WITH lo AS (
      SELECT o_orderkey AS k FROM orders
      WHERE o_orderkey <= {_PURGE_CAP}),
    alo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(k) AS BIGINT) AS s,
        CAST(COUNT(DISTINCT FLOOR(k * 16 / {_PURGE_CAP + 1}))
             AS BIGINT) AS nb
      FROM lo),
    ad AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COALESCE(SUM(k), 0) AS BIGINT) AS s,
        CAST(COUNT(DISTINCT FLOOR(k * 16 / {_PURGE_CAP + 1}))
             AS BIGINT) AS nb
      FROM lo WHERE k % 250 = 0)
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
      alo.n AS n_rows, alo.s AS key_sum,
      CAST(0 AS BIGINT) AS n_dv_bound, alo.nb AS n_files_changed
    FROM alo
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete-dv', alo.n - ad.n, alo.s - ad.s,
      ad.nb, CAST(0 AS BIGINT)
    FROM alo, ad
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'reorg-purge', alo.n - ad.n,
      alo.s - ad.s, CAST(0 AS BIGINT), ad.nb * 2
    FROM alo, ad
    ORDER BY version
    """,
)
def q262_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucketed append (16 stats-carrying files) -> MoR DELETE
    (k % 250 = 0: DVs land on exactly the 3 buckets holding a match —
    bucket placement is a pure function of the key, so the oracle
    recomputes it) -> REORG APPLY (PURGE) preserving the bucketed
    layout. v2 proves the purge rewrote 2x3 files (not 2x16), cleared
    every binding, and changed no row (key_sum invariant); the
    in-entry assert pins that the feed over the purge is empty."""
    tl = TxLog(_warehouse_dir(sf_dir, "txlog_q262")).create()
    o = table(spark, sf_dir, "orders")
    lo = o.where(F.col("o_orderkey") <= _PURGE_CAP).select(
        "o_orderkey", "o_totalprice"
    )
    bucketed = _with_bucket(lo, _PURGE_CAP)
    tl.commit(
        "append",
        add=tl.stage_data_partitioned(
            bucketed, "bucket", stats_col="o_orderkey"
        ),
    )                                                                # v0
    tl.delete_where_mor(spark, F.col("o_orderkey") % 250 == 0)       # v1

    def _restage(out: DataFrame) -> list[dict]:
        b = _with_bucket(out, _PURGE_CAP)
        return tl.stage_data_partitioned(b, "bucket", stats_col="o_orderkey")

    tl.reorg_purge(spark, stage=_restage)                            # v2
    assert tl.dvs() == {}
    hist = {h["version"]: h for h in tl.history()}
    # one action: the three per-version aggregates AND the purge-feed
    # emptiness probe union into a single job (the feed count rides as
    # arm v=-1; the assert below still enforces row-invisibility)
    arms = [
        tl.change_feed(spark, "o_orderkey", from_version=1)
        .agg(F.count("*").alias("n"))
        .select(F.lit(-1).alias("v"), "n", F.lit(None).cast("long").alias("s"))
    ]
    for v in range(3):
        arms.append(
            tl.read(spark, v)
            .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s"))
            .select(F.lit(v).alias("v"), "n", "s")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    aggs = {int(r["v"]): r for r in out.collect()}
    # the purge is row-invisible: no change rows in its feed window
    assert int(aggs[-1]["n"]) == 0
    rows = [
        (
            v,
            hist[v]["op"],
            int(aggs[v]["n"]),
            int(aggs[v]["s"]),
            len(tl.dvs(v)),
            hist[v]["n_added"] + hist[v]["n_removed"],
        )
        for v in range(3)
    ]
    return spark.createDataFrame(
        rows,
        "version BIGINT, op STRING, n_rows BIGINT, key_sum BIGINT, "
        "n_dv_bound BIGINT, n_files_changed BIGINT",
    ).orderBy("version")
