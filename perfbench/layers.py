"""Per-layer counters for one benchmark request, read from outside the engine.

A request is one registry entry: the entry call (the *body*, which may run
Spark actions before it returns its frame) followed by ``.collect()`` on the
frame (the *collect* phase). ``Tracer`` splits the request's work between the
two phases by time window, using Spark's monotonic ids: job and stage ids
from the DAG scheduler, SQL execution ids from the SQL status store. Work
started by any thread inside a window belongs to that window, so actions
spawned on helper threads are counted too.

Nothing here depends on Spark's retained-job/stage/execution lists being
complete over a whole run: ids come from counters that never reset, and the
per-stage and per-execution detail is read right after each request, while
that request's few dozen stages are still retained.

Sources, all public or status-store reads:
  * jobs, stages, SQL executions: id deltas at the phase boundaries, after
    draining the listener bus so every event of the window is applied;
  * tasks, CPU, run time, GC, input/shuffle/spill bytes: the status store's
    stage records of the window's stages;
  * compile time: ``queryExecution().tracker().phases()`` of the frame;
  * Python worker time and bytes: the SQL metrics "time to run Python
    workers" and "data sent to / returned from Python workers";
  * micro-batches and their trigger/WAL time: a ``StreamingQueryListener``;
  * table-format commits and reads: wrappers around ``TxLog.commit*``,
    ``TxLog.read`` and ``TxLog.active_files``, installed only while a traced
    pass runs;
  * JVM write bytes: the ``wchar`` line of ``/proc/<jvm pid>/io``.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("body", "collect")
PHASE_KEYS = (
    "stages",
    "single_task_stages",
    "tasks",
    "cpu_ms",
    "offcpu_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "jvm_write_bytes",
)
# Counters that count work rather than time it and repeat exactly for the
# same entry on the same data. body.shuffle_bytes is left out: the streaming
# and DV entries' shuffles vary by a few hundred bytes in a few MB.
EXACT_KEYS = (
    ["body.sql_execs", "body.jobs", "collect.jobs", "txlog.commits", "stream.batches"]
    + [f"{p}.{k}" for p in PHASES for k in ("stages", "single_task_stages", "tasks")]
    + ["body.input_bytes", "body.spill_bytes"]
    + ["collect.input_bytes", "collect.shuffle_bytes", "collect.spill_bytes"]
)

_TXLOG_COMMITS = ("commit", "commit_idempotent", "commit_checked", "branch_commit")
_TXLOG_READS = ("read", "active_files")
_UNIT = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC_VALUE = re.compile(r"([0-9.]+) (ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def sql_metric_total(text: str) -> float:
    """Total of a formatted SQL metric, in ms or bytes.

    The status store keeps SQL metrics as display strings: either a bare
    value (``"3 ms"``) or a header line and ``"total (min, med, max ...)"``
    where the first value on the last line is the total."""
    m = _METRIC_VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class _StreamCounter(StreamingQueryListener):
    """Counts micro-batches and their trigger and WAL time while active."""

    def __init__(self):
        self.active = False
        self.batches = 0
        self.trigger_ms = 0.0
        self.wal_ms = 0.0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        d = event.progress.durationMs
        # a trigger that ran no batch reports no addBatch duration
        if self.active and "addBatch" in d:
            self.batches += 1
            self.trigger_ms += d.get("triggerExecution", 0)
            self.wal_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class _TxLogTimer:
    """Times the outermost TxLog commit/read call; nested calls are part of it."""

    def __init__(self):
        from hive_clone_spark.sources.txlog import TxLog

        self._cls = TxLog
        self._orig = {n: getattr(TxLog, n) for n in _TXLOG_COMMITS + _TXLOG_READS}
        self._depth = 0
        self.commits = 0
        self.commit_ms = 0.0
        self.read_ms = 0.0

    def _wrap(self, name, fn):
        is_commit = name in _TXLOG_COMMITS

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                self._depth -= 1
                if is_commit:
                    self.commits += 1
                    self.commit_ms += ms
                else:
                    self.read_ms += ms

        return timed

    def install(self):
        for name, fn in self._orig.items():
            setattr(self._cls, name, self._wrap(name, fn))

    def uninstall(self):
        for name, fn in self._orig.items():
            setattr(self._cls, name, fn)


class Tracer:
    """Reads per-phase work counters around each request of a traced pass."""

    def __init__(self, spark, jvm_pid: int):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self._sc.statusStore().store()
        self._stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm, "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._io_path = f"/proc/{jvm_pid}/io"
        # registering starts the py4j callback server once, outside any pass
        self._streams = _StreamCounter()
        spark.streams.addListener(self._streams)
        self._txlog = _TxLogTimer()

    # -- one traced pass ------------------------------------------------
    def start_pass(self):
        self._streams.active = True
        self._txlog.install()

    def end_pass(self):
        self._streams.active = False
        self._txlog.uninstall()

    # -- boundaries -----------------------------------------------------
    def _next_exec_id(self) -> int:
        n = self._sql_store.executionsCount()
        if n == 0:
            return 0
        return self._sql_store.executionsList(n - 1, 1).head().executionId() + 1

    def _wchar(self) -> int:
        with open(self._io_path) as f:
            for line in f:
                if line.startswith("wchar:"):
                    return int(line.split()[1])
        return 0

    def mark(self) -> dict:
        """Snapshot every counter, after the listener bus has drained."""
        self._sc.listenerBus().waitUntilEmpty()
        dag = self._sc.dagScheduler()
        return {
            "t": time.perf_counter(),
            "cpu": time.process_time(),
            "job": dag.nextJobId(),
            "stage": dag.nextStageId(),
            "exec": self._next_exec_id(),
            "wchar": self._wchar(),
            "batches": self._streams.batches,
            "trigger_ms": self._streams.trigger_ms,
            "wal_ms": self._streams.wal_ms,
            "commits": self._txlog.commits,
            "commit_ms": self._txlog.commit_ms,
            "read_ms": self._txlog.read_ms,
        }

    def _last_executions(self, k: int) -> list[dict]:
        """The newest ``k`` SQL executions, oldest first."""
        if k <= 0:
            return []
        n = self._sql_store.executionsCount()
        return json.loads(self._json.writeValueAsString(self._sql_store.executionsList(max(n - k, 0), k)))

    def _stages(self, first_id: int) -> list[dict]:
        view = self._app_store.view(self._stage_cls).index("stageId").first(first_id)
        return [w["info"] for w in json.loads(self._json.writeValueAsString(view))]

    def record(self, df, b0: dict, b1: dict, b2: dict) -> dict:
        """Counters of one request from its three boundary snapshots."""
        out: dict[str, float] = defaultdict(float)
        out["body.s"] = b1["t"] - b0["t"]
        out["collect.s"] = b2["t"] - b1["t"]
        out["body.driver_cpu_s"] = b1["cpu"] - b0["cpu"]
        out["body.sql_execs"] = b1["exec"] - b0["exec"]
        out["body.jobs"] = b1["job"] - b0["job"]
        out["collect.jobs"] = b2["job"] - b1["job"]
        out["body.jvm_write_bytes"] = b1["wchar"] - b0["wchar"]
        out["collect.jvm_write_bytes"] = b2["wchar"] - b1["wchar"]
        for key in ("batches", "trigger_ms", "wal_ms"):
            out[f"stream.{key}"] = b2[key] - b0[key]
        out["txlog.commits"] = b2["commits"] - b0["commits"]
        out["txlog.commit_ms"] = b2["commit_ms"] - b0["commit_ms"]
        out["txlog.read_ms"] = b2["read_ms"] - b0["read_ms"]

        for st in self._stages(b0["stage"]):
            sid = st["stageId"]
            if sid >= b2["stage"] or st["status"] not in ("COMPLETE", "FAILED"):
                continue  # a later window's stage, or skipped / never run
            p = "body" if sid < b1["stage"] else "collect"
            run_ms = st["executorRunTime"]
            cpu_ms = st["executorCpuTime"] / 1e6
            out[f"{p}.stages"] += 1
            out[f"{p}.single_task_stages"] += st["numTasks"] == 1
            out[f"{p}.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            out[f"{p}.cpu_ms"] += cpu_ms
            out[f"{p}.offcpu_ms"] += max(run_ms - cpu_ms, 0.0)
            out[f"{p}.gc_ms"] += st["jvmGcTime"]
            out[f"{p}.input_bytes"] += st["inputBytes"]
            out[f"{p}.shuffle_bytes"] += st["shuffleWriteBytes"]
            out[f"{p}.spill_bytes"] += st["diskBytesSpilled"]

        # read right after the request, so the newest executions are its own
        for ex in self._last_executions(b2["exec"] - b0["exec"]):
            names = {m["accumulatorId"]: m["name"] for m in ex["metrics"]}
            for acc, text in (ex.get("metricValues") or {}).items():
                name = names.get(int(acc), "")
                if name == "time to run Python workers":
                    out["pyworker.run_ms"] += sql_metric_total(text)
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    out["pyworker.bytes"] += sql_metric_total(text)

        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                out["compile.ms"] += summary.get().durationMs()

        return dict(out)


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# Every per-layer metric a traced run reports, with its unit.
PER_LAYER = {
    name: _unit(name)
    for name in (
        ["session.start_s", "body.s", "body.sql_execs", "body.jobs", "body.driver_cpu_s"]
        + [f"{p}.{k}" for p in PHASES for k in PHASE_KEYS]
        + ["collect.s", "collect.jobs", "compile.ms", "pyworker.run_ms", "pyworker.bytes"]
        + ["stream.batches", "stream.trigger_ms", "stream.wal_ms"]
        + ["txlog.commits", "txlog.commit_ms", "txlog.read_ms"]
        + ["mem.peak_rss_mb", "trace.overhead_pct"]
    )
}
