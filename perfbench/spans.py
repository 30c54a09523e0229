"""In-memory span recorder, Spark job counting and host sampling.

A span is (id, name, start, end, parent, request).  Spans are kept in a
list and only summarised when the run ends; nothing is written while the
workload runs.  A span opened with ``spark_jobs=True`` sets a Spark job
group and counts the jobs, stages and tasks of that group through
``SparkContext.statusTracker()`` when it closes.

``NullTracer`` has the same interface and records nothing: the untraced
run (end-to-end metrics) pays only a context-manager call per span.
"""

from __future__ import annotations

import itertools
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, request=None, spark_jobs=False):
        yield None


class Tracer:
    """Records spans; with ``spark_jobs=True`` a span also sets a Spark job
    group and, on exit, counts the jobs, stages and tasks it caused."""

    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        #: wall time spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name, request=None, spark_jobs=False):
        """Spans with ``spark_jobs=True`` must not nest in each other:
        the job group is a single thread-local property."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, 0.0,
                  parent.sid if parent else None,
                  request if request is not None
                  else (parent.request if parent else None))
        group = None
        if spark_jobs and self.spark is not None:
            group = f"perfbench-{sp.sid}"
            self.spark.sparkContext.setJobGroup(group, name)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sc = self.spark.sparkContext
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)
                self._count_jobs(sp, group)
            self.overhead_s += time.perf_counter() - sp.end

    def _count_jobs(self, sp: Span, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup(group) or []:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for stid in info.stageIds:
                st = tracker.getStageInfo(stid)
                if st is not None:
                    sp.stages += 1
                    sp.tasks += st.numTasks

    # ---- summaries ------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time covered by child
        spans (children of one span never overlap: calls are sequential)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child_time.get(s.sid, 0.0)
        return out

    def top_level(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def descendants(root: int) -> list[int]:
    """Every process below `root` (the JVM, Python workers)."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.append(pid)
            todo.extend(_children(pid))
    return out


def tree_rss_mb(root: int) -> float:
    """RSS of a process and all its descendants, in MB."""
    return sum(_rss_kb(p) for p in [root] + descendants(root)) / 1024.0


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate every process this one started that is still running and
    wait until each has ended (a run stopped while Spark was starting
    leaves its JVM behind)."""
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while pids and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if _running(p)]
            time.sleep(0.05)
        if not pids:
            return


class RssSampler:
    """Background thread sampling the process-tree RSS every `period` s."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class HostRecord:
    """nproc, load average and CPU steal share over the run (from
    /proc/stat deltas).  Records only; never waits for the host."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.load_start = os.getloadavg()
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        busy = total - d[3] - (d[4] if len(d) > 4 else 0)
        return {
            "nproc": self.nproc,
            "load_start": [round(x, 2) for x in self.load_start],
            "load_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": steal / total,
            "cpu_busy_share": busy / total,
        }
