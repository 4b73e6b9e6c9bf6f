"""Per-layer tracing from the benchmark side.

Nothing here edits the engine. Each probe reads a counter Spark already
keeps, or times a call into a package function from outside:

- :class:`JobGroups` runs a span under its own job group and sums the
  status store's per-stage metrics (``statusStore().lastStageAttempt``)
  over the group's jobs. Works with the UI off.
- :func:`catalyst_phases` reads ``queryExecution().tracker()`` phase times.
- :class:`StreamProbe` registers a ``StreamingQueryListener`` on every
  session that starts a stream while it is active. Streaming jobs run on
  the stream thread, outside the caller's job group, so this is the only
  source of their numbers.
- :class:`CallTimer` wraps module functions and keeps exclusive times
  (a nested wrapped call is charged to itself, not to its caller).
"""

from __future__ import annotations

import itertools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.readwriter import DataStreamWriter

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def wait_for_listeners(spark: SparkSession) -> None:
    """Block until every posted scheduler event reached its listeners, so
    the status store and the streaming listener are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class JobGroups:
    """Spans keyed by job group, with the status store's stage metrics."""

    _ids = itertools.count()

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.groups: dict[str, list[str]] = defaultdict(list)

    @contextmanager
    def span(self, key: str):
        """Run the body under a fresh job group filed under ``key``."""
        group = f"perfbench-{next(self._ids)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, key)
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()
            self.groups[key].append(group)

    def totals(self, key: str | None = None) -> dict[str, float]:
        """Exec totals over the groups of ``key`` (all keys if None)."""
        wait_for_listeners(self.spark)
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        keys = [key] if key is not None else list(self.groups)
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        seen: set[int] = set()
        for k in keys:
            for group in self.groups.get(k, ()):
                for job_id in tracker.getJobIdsForGroup(group):
                    out["jobs"] += 1
                    info = tracker.getJobInfo(job_id)
                    for stage_id in list(info.stageIds) if info else ():
                        if stage_id in seen:
                            continue
                        seen.add(stage_id)
                        st = store.lastStageAttempt(stage_id)
                        if st.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        out["tasks"] += st.numTasks()
                        out["executor_run_s"] += st.executorRunTime() / 1e3
                        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        out["input_bytes"] += st.inputBytes()
                        out["shuffle_read_bytes"] += st.shuffleReadBytes()
                        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        out["spill_bytes"] += st.diskBytesSpilled()
        return out


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Plan ``df`` and return its analysis/optimization/planning seconds
    from the query-planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        out[name] = summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
    return out


class _ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamProbe:
    """While active, every session that starts a stream gets the probe's
    listener; :meth:`summary` folds the progress events it received."""

    def __init__(self):
        self.listener = _ProgressListener()
        self._sessions: dict[int, SparkSession] = {}

    @contextmanager
    def active(self):
        original = DataStreamWriter.start
        probe = self

        def start(writer, *args, **kwargs):
            session = writer._spark
            if id(session) not in probe._sessions:
                session.streams.addListener(probe.listener)
                probe._sessions[id(session)] = session
            return original(writer, *args, **kwargs)

        DataStreamWriter.start = start
        try:
            yield self
        finally:
            DataStreamWriter.start = original

    def close(self, spark: SparkSession) -> None:
        wait_for_listeners(spark)
        for session in self._sessions.values():
            session.streams.removeListener(self.listener)
        self._sessions.clear()

    def summary(self) -> dict[str, float]:
        out = dict.fromkeys(
            (
                "batches",
                "add_batch_ms",
                "query_planning_ms",
                "wal_commit_ms",
                "commit_offsets_ms",
                "state_rows",
                "state_memory_bytes",
                "state_commit_ms",
            ),
            0.0,
        )
        last_state: dict[str, list] = {}
        for p in self.listener.progress:
            if p.numInputRows == 0 and not p.stateOperators:
                continue  # idle trigger: no batch ran
            d = p.durationMs
            out["batches"] += 1
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["query_planning_ms"] += d.get("queryPlanning", 0)
            out["wal_commit_ms"] += d.get("walCommit", 0)
            out["commit_offsets_ms"] += d.get("commitOffsets", 0)
            out["state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
            last_state[str(p.runId)] = p.stateOperators
        for ops in last_state.values():
            out["state_rows"] += sum(s.numRowsTotal for s in ops)
            out["state_memory_bytes"] += sum(s.memoryUsedBytes for s in ops)
        return out


class CallTimer:
    """Wraps ``(owner, attribute)`` functions and keeps, per label, the
    call count and the exclusive wall time."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[float] = []

    def _wrap(self, label: str, fn):
        timer = self

        def wrapped(*args, **kwargs):
            timer._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                elapsed = time.perf_counter() - t0
                nested = timer._stack.pop()
                timer.seconds[label] += elapsed - nested
                timer.calls[label] += 1
                if timer._stack:
                    timer._stack[-1] += elapsed

        return wrapped

    @contextmanager
    def patched(self, targets: dict[str, tuple[object, str]]):
        """Wrap each ``label -> (owner, attribute)`` for the body."""
        saved = []
        for label, (owner, attr) in targets.items():
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(label, fn))
        try:
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def driver_pids() -> list[int]:
    """This Python process and the driver JVM it launched."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    if proc is not None:
        pids.append(proc.pid)
    return pids
