"""Spans, counts and host diagnostics for the benchmark.

Everything here is installed from the benchmark's own files around the
calls into each layer's public functions; the package is not changed.
A disabled ``Tracer`` does nothing, so the untraced run pays only a
no-op context manager per call site.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: str


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.layer_counts: dict[str, int] = {}
        self.op = ""  # the op in progress, for spans opened by wrappers
        self.counter: SparkCounter | None = None
        self.overhead_s = 0.0  # time the tracing itself added
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        span = Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, op)
        self.spans.append(span)
        self._stack.append(idx)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0  # bookkeeping counts as overhead
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - span.end

    @contextmanager
    def overhead(self):
        """Time work that only tracing does."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def jobs(self, name: str):
        """Count the Spark jobs run inside the block under ``name``."""
        if self.counter is None:
            yield
            return
        with self.overhead():
            mark = self.counter.mark()
        try:
            yield
        finally:
            with self.overhead():
                self.counts[name] += self.counter.since(mark)["jobs"]

    def wrap(self, fn, name: str):
        """A thin timing wrapper that delegates unchanged; its spans
        belong to the op in progress."""

        def wrapper(*args, **kwargs):
            with self.span(name, self.op):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its child spans cover."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Total duration per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["id"] = i
                rec["start"] = round(s.start - t0, 6)
                rec["end"] = round(s.end - t0, 6)
                fh.write(json.dumps(rec) + "\n")


class SparkCounter:
    """Jobs, stages and tasks that ran between two marks.

    The client is closed-loop and single-threaded, so every job submitted
    between two marks belongs to the op between them, including jobs a
    streaming query runs on its own thread (which carry the stream's
    job group, not the caller's)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.store = self.sc.statusStore()

    def mark(self) -> tuple[int, int]:
        return int(self.dag.nextJobId()), int(self.dag.nextStageId())

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        self.sc.listenerBus().waitUntilEmpty()
        j1, s1 = self.mark()
        out = {"jobs": j1 - mark[0], "stages": 0, "tasks": 0,
               "single_task_stages": 0, "failed_tasks": 0}
        for sid in range(mark[1], s1):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: the stage was never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            n = st.numTasks()
            out["stages"] += 1
            out["tasks"] += n
            out["single_task_stages"] += n == 1
            out["failed_tasks"] += st.numFailedTasks()
        return out


def stream_listener(spark):
    """A StreamingQueryListener that keeps each micro-batch's duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batch_ms: list[float] = []
            self.busy_s = 0.0  # time spent in this listener's callbacks

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            t0 = time.perf_counter()
            self.batch_ms.append(float(event.progress.batchDuration))
            self.busy_s += time.perf_counter() - t0

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


# ---------------------------------------------------------------------------
# Host diagnostics. These explain drift; they never normalize a metric.


def calibrate() -> float:
    """Wall time of a fixed single-thread Python kernel."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += (i * i) % 7
    if acc < 0:
        raise AssertionError("unreachable")
    return time.perf_counter() - t0


def cpu_snapshot() -> tuple[int, int, int]:
    """(machine busy jiffies, steal jiffies, jiffies of this process tree)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    busy = sum(vals) - vals[3] - vals[4] - vals[7]
    return busy, vals[7], sum(_tree_stat(14, 15).values())


def _tree_stat(*fields: int) -> dict[int, int]:
    """For every process in this process's tree, the sum of the given
    /proc/<pid>/stat fields (numbered from 1, as in proc(5))."""
    me = os.getpid()
    parent: dict[int, int] = {}
    value: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(ent)] = int(parts[1])
        value[int(ent)] = sum(int(parts[f - 3]) for f in fields)

    def ours(pid: int) -> bool:
        seen = set()
        while pid > 1 and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = parent.get(pid, 0)
        return False

    return {p: v for p, v in value.items() if ours(p)}


def contention(before: tuple, after: tuple, elapsed: float) -> dict[str, float]:
    hz = os.sysconf("SC_CLK_TCK")
    other = (after[0] - before[0]) - (after[2] - before[2])
    return {
        "steal_cores": max(0.0, (after[1] - before[1]) / hz / elapsed),
        "other_cores": max(0.0, other / hz / elapsed),
    }


class RssSampler:
    """Peak resident set of this process tree (Python, JVM, workers),
    sampled every ``period`` seconds on a daemon thread. ``busy_s`` is
    the CPU time the sampling has taken."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_mb = 0.0
        self.busy_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            t0 = time.thread_time()
            # field 24 of /proc/<pid>/stat is rss in pages
            rss = sum(_tree_stat(24).values()) * page / 2**20
            self.peak_mb = max(self.peak_mb, rss)
            self.busy_s += time.thread_time() - t0
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


# ---------------------------------------------------------------------------
# Statistics

PERCENTILES = (50, 75, 90, 95, 99)


def tail_percentile(n: int) -> int | None:
    """The highest percentile with at least ten samples beyond it."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    k = max(0, math.ceil(p / 100 * len(ordered)) - 1)
    return ordered[k]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))
