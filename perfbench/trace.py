"""Spans, Spark counters and memory sampling for the benchmark.

A :class:`Tracer` records spans (name, start, end, parent) around the
benchmark's calls into each layer and, when enabled, forces each stage's
output to materialize at the span boundary so its cost lands in that span
instead of in whichever later action happens to pull it. When the run
ends, the Spark counters of its stages are read from the status store
(which works with ``spark.ui.enabled=false``) and charged to every span
whose stage-id range holds them. Spans stay in memory; the caller writes
them out when the run ends.

A disabled tracer runs the same workload code with no spans, no counter
reads and no forced materialization — the untraced timing.
"""

from __future__ import annotations

import functools
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

MB = 2.0**20

COUNTERS = (
    "run_ms", "cpu_ns", "shuffle_write_b", "spill_b", "gc_ms",
    "failed_tasks", "input_b", "output_b",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children are merged, and children are
    clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-th percentile (0 < q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def reportable(values: list[float], qs=(50, 90, 99), min_tail: int = 10) -> dict[str, float]:
    """The median always; a higher percentile only when at least
    ``min_tail`` samples lie strictly beyond it."""
    out = {"p50": percentile(values, 50)}
    for q in qs:
        if q == 50:
            continue
        v = percentile(values, q)
        if sum(1 for x in values if x > v) >= min_tail:
            out[f"p{q}"] = v
    return out


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


FINAL = ("COMPLETE", "FAILED", "SKIPPED")


class StageCounters:
    """Stage counters from the Spark status store.

    The store is filled from the asynchronous listener bus, so every read
    first waits until the bus has delivered all events posted so far. A
    span records only the newest stage id at its start and end; counters
    are read once, after the run, when every stage has a final status."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._q = sc._gateway.new_array(sc._jvm.double, 0)
        # stages that ran before this object existed are never read
        self.floor = self.watermark()

    def _list(self):
        # newest first: the store orders stages by (id, attempt)
        return self._store.stageList(self._empty, False, False, self._q, self._empty).iterator()

    def watermark(self) -> int:
        """Newest stage id in the store, once the bus is drained."""
        self._bus.waitUntilEmpty()
        it = self._list()
        return it.next().stageId() if it.hasNext() else -1

    def read(self) -> tuple[dict[tuple[int, int], dict], int]:
        """Counters of every stage attempt newer than the floor, keyed by
        (stage id, attempt), and how many of them are still not final
        after waiting up to 10 s for them to finish."""
        deadline = time.monotonic() + 10.0
        while True:
            self._bus.waitUntilEmpty()
            stages, n_open = {}, 0
            it = self._list()
            while it.hasNext():
                s = it.next()
                sid = s.stageId()
                if sid <= self.floor:
                    break
                n_open += s.status().name() not in FINAL
                first = s.firstTaskLaunchedTime()
                stages[(sid, s.attemptId())] = {
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "gc_ms": s.jvmGcTime(),
                    "failed_tasks": s.numFailedTasks(),
                    "input_b": s.inputBytes(),
                    "output_b": s.outputBytes(),
                    "first_task_ms": first.get().getTime() if first.isDefined() else None,
                }
            if not n_open or time.monotonic() >= deadline:
                return stages, n_open
            time.sleep(0.1)


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.plans: dict[str, list[float]] = {
            "build_ms": [], "plan_ms": [], "exec_ms": [], "exec_wait_ms": []
        }
        self.open_stages = 0
        self._stack: list[int] = []
        self._ranges: dict[int, tuple[int, int]] = {}
        self._actions: list[tuple[float, int, int]] = []
        self._counters = StageCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        lo = self._counters.watermark()
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._ranges[s.id] = (lo, self._counters.watermark())

    def stage(self, name: str, build) -> tuple[DataFrame, int | None]:
        """Run a layer call. Traced: inside a span, time the Python build,
        force the physical plan, then persist and count the result so its
        execution is charged here. Untraced: just the lazy call."""
        if not self.enabled:
            return build(), None
        with self.span(name) as s:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            n = self.action(lambda: df.count())
            self.plans["build_ms"].append((t1 - t0) * 1e3)
            self.plans["plan_ms"].append((t2 - t1) * 1e3)
            s.attrs["rows"] = n
        return df, n

    @contextmanager
    def staged(self, targets, before=None):
        """While open, each target ``(namespace, key, span name)`` names a
        DataFrame-returning function that the program looks up in a dict
        or a module's ``vars()`` at call time; each call of it runs as a
        :meth:`stage` span. A traced run thereby splits the program's own
        composite calls into layer spans. ``before`` runs once, ahead of
        the first such call. Untraced: nothing is replaced."""
        if not self.enabled:
            yield
            return
        todo = [before] if before else []

        def wrap(fn, name):
            @functools.wraps(fn)
            def staged_call(*args, **kwargs):
                while todo:
                    todo.pop()()
                return self.stage(name, lambda: fn(*args, **kwargs))[0]

            return staged_call

        saved = [(ns, key, ns[key]) for ns, key, _ in targets]
        try:
            for ns, key, name in targets:
                ns[key] = wrap(ns[key], name)
            yield
        finally:
            for ns, key, fn in saved:
                ns[key] = fn

    def action(self, fn):
        """Run a Spark action; traced, record its wall and, at
        :meth:`finish`, the wait from action start to its first task
        launch."""
        if not self.enabled:
            return fn()
        lo = self._counters.watermark()
        t0_epoch_ms = time.time() * 1e3
        t0 = time.perf_counter()
        out = fn()
        self.plans["exec_ms"].append((time.perf_counter() - t0) * 1e3)
        self._actions.append((t0_epoch_ms, lo, self._counters.watermark()))
        return out

    def finish(self) -> None:
        """After a traced run: read the stage counters once and charge each
        stage to every span (and action) whose stage-id range holds it."""
        if not self.enabled:
            return
        stages, self.open_stages = self._counters.read()

        def within(lo, hi):
            return [v for (sid, _), v in stages.items() if lo < sid <= hi]

        for s in self.spans:
            got = within(*self._ranges[s.id])
            s.counters = {k: float(sum(st[k] for st in got)) for k in COUNTERS}
        for t0_epoch_ms, lo, hi in self._actions:
            firsts = [st["first_task_ms"] for st in within(lo, hi) if st["first_task_ms"] is not None]
            if firsts:
                self.plans["exec_wait_ms"].append(max(0.0, min(firsts) - t0_epoch_ms))

    def cpu_busy(self, s: Span) -> float:
        wall = s.end - s.start
        return s.counters.get("run_ms", 0.0) / 1e3 / (wall * self.cores) if wall > 0 else 0.0


def storage_mb(spark) -> float:
    """Storage memory in use across executors (cached blocks), once the
    listener bus has delivered every block update posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ex = jsc.statusStore().executorList(True)
    return sum(ex.apply(i).memoryUsed() for i in range(ex.size())) / MB


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS in kB by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        rss[int(d)] = int(fields[21]) * page_kb
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_tree_mb(root: int) -> float:
    """Summed RSS of ``root`` and all its descendants."""
    children, rss = _proc_table()
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total / 1024.0


class RssSampler:
    """Highest summed RSS of this process and all its descendants (the
    JVM and its Python workers), sampled while ``active``."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self.active = False
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            if self.active:
                self.peak_mb = max(self.peak_mb, rss_tree_mb(me))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
