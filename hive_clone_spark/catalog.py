"""Table catalog for the driver's TESTDATA parquet directories.

Tables (TESTDATA.md / FIXTURES.md §B): region nation customer supplier
part orders lineitem events documents embeddings — one parquet file per
table under /root/testdata/sf{0.001,0.01,0.1}/.

Reading is always `spark.read.parquet` so Catalyst gets predicate
pushdown + column pruning into the scan; nothing is cached here — the
query functions decide what to persist.

Writing goes to per-process scratch dirs: `scratch_dir` builds every
such path and `reap_scratch_dirs` removes those of dead processes.
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Root of every per-process scratch dir (gitignored). Write-path
# entries, txlog tables, stream checkpoints, MVs and DDL table
# locations all live at <root>/<name>/<tag>-<pid>.
_SCRATCH_ROOT = pathlib.Path(__file__).resolve().parents[1] / "spark-warehouse"
# A scratch dir name: <tag>-<pid>, or <tag>-<pid>-ctl for a control
# table its owner writes beside it. No '=': a partition dir is not one.
_SCRATCH_NAME = re.compile(r"[^=]+-(\d+)(?:-ctl)?")
# Age floors for reaping a dir whose owner the kill-0 probe cannot
# rule out. Probe inconclusive (owned by another user, or no kill-0 on
# this platform): 6 h, far past any bench or pytest session. Probe
# says alive: either pid reuse, or a long-lived session whose lazy
# plan still reads a fixture written hours ago; writers overwrite
# their dir on every use, so 7 days clears reuse leaks without racing
# a plausible live session.
_REAP_INCONCLUSIVE_AGE_S = 6 * 3600
_REAP_ALIVE_AGE_S = 7 * 24 * 3600
_reaped = False


def scratch_dir(tag: str, name: str) -> str:
    """The process's scratch dir ``spark-warehouse/<name>/<tag>-<pid>``
    under the repo, CLEARED on every call; ``tag`` is the basename of
    an sf dir or a plain name. The clear keeps files of an earlier
    layout out of recursiveFileLookup / mergeSchema reads; the pid
    keeps concurrent processes (oracle suite, plan audit, bench) from
    racing rmtree-vs-write on one dir. The first call in a process
    runs ``reap_scratch_dirs``."""
    global _reaped
    if not _reaped:
        _reaped = True
        reap_scratch_dirs()
    tag = os.path.basename(tag.rstrip("/"))
    dest = _SCRATCH_ROOT / name / f"{tag}-{os.getpid()}"
    if dest.exists():
        shutil.rmtree(dest)
    return str(dest)


def reap_scratch_dirs() -> None:
    """Remove the scratch dirs of other processes that are gone: a dead
    owner's dir can never be read again (its in-memory catalog and
    plans died with it). A live-looking or unprobeable owner's dir goes
    only past its age floor; this process's own dirs are never
    touched. Each `<name>/` parent left empty goes too, by rmdir only:
    a parent another process has just written into is not empty."""
    for d in _SCRATCH_ROOT.glob("*/*"):
        m = _SCRATCH_NAME.fullmatch(d.name)
        if m is None or int(m[1]) == os.getpid():
            continue
        try:
            os.kill(int(m[1]), 0)
            floor = _REAP_ALIVE_AGE_S
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
            continue
        except OSError:
            floor = _REAP_INCONCLUSIVE_AGE_S
        try:
            age = time.time() - d.stat().st_mtime
        except OSError:
            continue  # its owner removed it meanwhile
        if age > floor:
            shutil.rmtree(d, ignore_errors=True)
    for parent in _SCRATCH_ROOT.glob("*/"):
        try:
            os.rmdir(parent)
        except OSError:
            pass  # not empty


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects outright. Set the legacy runtime conf here (not
        # only in session.py) so the queries also work under a caller's
        # vanilla SparkSession — e.g. the driver harness's own session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_dtype == "bigint":
            # legacy testdata: TIMESTAMP(NANOS) decoded via nanosAsLong —
            # nanos→micros truncation, exactly like DuckDB's read of the file
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # regenerated testdata: timestamp[us] with no timezone decodes as
            # TIMESTAMP_NTZ, which unix_micros / RangeFrame-on-micros reject.
            # Cast to TIMESTAMP under a pinned UTC session zone so the wall
            # clock is preserved verbatim (matches DuckDB's naive TIMESTAMP
            # read + epoch_us) even if the caller's session isn't UTC.
            #
            # HARNESS CONTRACT: the whole engine runs with
            # spark.sql.session.timeZone=UTC (session.get_spark pins it at
            # creation). This set exists so a caller's vanilla session — e.g.
            # the driver harness's — gets the same semantics. It is
            # deliberately NOT saved/restored: the NTZ->TIMESTAMP cast and
            # every downstream date_format/window resolve the zone lazily at
            # execution, so a restore-after-read would silently shift results.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use.

    Idempotent per (session, sf_dir): ~30 sqlapi entries call this on
    every invocation, and re-creating 10 temp views costs ~1 s of
    driver time each (measured round 9: it was the larger half of
    q221's bench cost). A session-scoped conf marker skips the
    re-registration when the same sf_dir is already in place."""
    marker = "hive_clone_spark.registered_sf_dir"
    if spark.conf.get(marker, None) == sf_dir:
        return
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(marker, sf_dir)
