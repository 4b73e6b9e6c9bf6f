"""Run bookkeeping shared by the workloads: failure accounting, the timed
window, set-up and the traced round."""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

import probes as tr

#: A single operation that runs longer than this is cancelled and counted
#: as a timeout failure, so a run always ends within its time limit.
OP_TIMEOUT_S = 60.0


class OpFailed(Exception):
    """An output check that did not pass."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """Counters of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: Counter[str] = Counter()
        self.spark = None
        self._lock = threading.Lock()

    def attempt(self, label: str, fn, *args, **kwargs):
        """Run one operation; count it, and on failure record the exception
        class and return None. An operation past ``OP_TIMEOUT_S`` has its
        Spark jobs cancelled and counts as a ``Timeout``. Safe to call from
        several threads."""
        with self._lock:
            self.attempted += 1
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            if self.spark is not None:
                self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        try:
            result = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - counted by class, never swallowed silently
            kind = "Timeout" if timed_out.is_set() else type(e).__name__
            self._fail(label, kind, str(e).strip().splitlines()[0] if str(e).strip() else "")
            return None
        finally:
            timer.cancel()
        if timed_out.is_set():
            self._fail(label, "Timeout", f"over {OP_TIMEOUT_S:.0f} s")
            return None
        return result

    def _fail(self, label: str, kind: str, detail: str) -> None:
        with self._lock:
            self.failed += 1
            self.errors[kind] += 1
        log(f"FAIL {label}: {kind}: {detail[:300]}")

    def check(self, label: str, problem: str | None) -> None:
        """Count a standalone output check (attempted, failed if problem)."""
        with self._lock:
            self.attempted += 1
        if problem is not None:
            self._fail(label, "OutputMismatch", problem)


class Tracing:
    """Probes of one traced round: job groups, per-call timers and the
    streaming listener."""

    def __init__(self, spark):
        self.spark = spark
        self.groups = tr.JobGroups(spark)
        self.calls = tr.CallTimer()
        self.streams = tr.StreamProbe()
        self.catalyst = Counter()
        #: time spent in the Catalyst probe, outside every call's wall
        self.probe_s = 0.0

    def exec_metrics(self, wall_s: float, cores: int) -> dict[str, float]:
        t = self.groups.totals()
        out = {f"exec.{k}": v for k, v in t.items()}
        out["exec.tasks_per_stage"] = t["tasks"] / t["stages"] if t["stages"] else 0.0
        out["exec.utilisation"] = t["executor_run_s"] / (wall_s * cores) if wall_s else 0.0
        return out

    def build_metrics(self) -> dict[str, float]:
        build = self.groups.totals("build")
        return {
            "entry.build_s": self.calls.seconds.get("build", 0.0),
            "entry.build_jobs": build["jobs"],
            "catalyst.analysis_s": self.catalyst["analysis"],
            "catalyst.optimization_s": self.catalyst["optimization"],
            "catalyst.planning_s": self.catalyst["planning"],
        }

    def stream_metrics(self) -> dict[str, float]:
        self.streams.close(self.spark)
        return {f"streaming.{k}": v for k, v in self.streams.summary().items()}

    @contextmanager
    def component_stats(self):
        """Collect the ``stats=`` dict of every ``dedup.duplicate_components``
        call made in the body (a dict is passed where the caller passed
        none); yields the list of those dicts."""
        from datalake_local_spark.llm import dedup

        collected: list[dict] = []
        original = dedup.duplicate_components

        def wrapped(*args, **kwargs):
            if kwargs.get("stats") is None:
                kwargs["stats"] = {}
            collected.append(kwargs["stats"])
            return original(*args, **kwargs)

        dedup.duplicate_components = wrapped
        try:
            yield collected
        finally:
            dedup.duplicate_components = original

    def build_then_force(self, build, force) -> float:
        """Time ``build()`` (returns a DataFrame) and ``force(df)`` in their
        own job groups; the plan's Catalyst phases are read in between,
        outside both spans. Returns the call wall (build + force)."""
        t0 = time.perf_counter()
        with self.groups.span("build"):
            df = build()
        t_build = time.perf_counter() - t0
        self.calls.seconds["build"] += t_build
        t0 = time.perf_counter()
        self.catalyst.update(tr.catalyst_phases(df))
        self.probe_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.groups.span("force"):
            force(df)
        return t_build + time.perf_counter() - t0


def work_dirs(work: str) -> dict[str, str]:
    dirs = {k: os.path.join(work, k) for k in ("tmp", "data", "warehouse", "spark")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs
