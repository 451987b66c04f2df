"""Spans around the benchmark's calls into each layer, Spark job-group
statistics per span, and peak memory of the process tree.

Spans live in memory and are written out when the run ends. A span
records its id, name, start, end, parent span id and pass id. In a traced run each
span also tags the Spark jobs it starts with its own job group
(``setJobGroup``); after each pass :meth:`Tracer.resolve` reads the
jobs, stages and tasks of every group from ``statusTracker()``. An
untraced run only times the spans the end-to-end metrics need and
touches neither job groups nor the status tracker.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

RSS_INTERVAL_S = 0.2


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "pass_id", "group", "stats")

    def __init__(self, id_, name, start, parent, pass_id, group):
        self.id, self.name, self.start, self.parent = id_, name, start, parent
        self.pass_id, self.group = pass_id, group
        self.end = None
        self.stats: dict[str, int] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "pass": self.pass_id, **self.stats,
        }


class Tracer:
    def __init__(self, enabled: bool):
        self.spark = None  # set once the session is up
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._unresolved: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id=None, spark_jobs: bool = False):
        """Time the body. In a traced run, record the span and, with
        ``spark_jobs``, tag the Spark jobs the body starts."""
        parent = self._stack[-1] if self._stack else None
        if pass_id is None and parent is not None:
            pass_id = parent.pass_id
        sid = next(self._ids)
        group = None
        if self.enabled and spark_jobs and self.spark is not None:
            group = f"pb-{sid}"
            self.spark.sparkContext.setJobGroup(group, name)
        sp = Span(sid, name, time.perf_counter() - self.t0,
                  parent.id if parent else None, pass_id, group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            self._stack.pop()
            if group is not None:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                sc = self.spark.sparkContext
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self._unresolved.append(sp)
            if self.enabled:
                self.spans.append(sp)

    def resolve(self) -> None:
        """Fill job/stage/task counts of every span closed since the
        last call. Runs outside every timed span."""
        if not self._unresolved:
            return
        sc = self.spark.sparkContext
        # the status store is fed by an asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        for sp in self._unresolved:
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                jobs += 1
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
            sp.stats = {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
        self._unresolved.clear()

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**(extra or {}), "spans": [s.as_dict() for s in self.spans]}, fh)


def cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` clock ticks so far of the CPUs this process may
    run on, from their ``cpuN`` lines in /proc/stat. A stolen tick is
    one in which that CPU was ready to run but the hypervisor ran
    another guest."""
    cpus = {f"cpu{n}" for n in os.sched_getaffinity(0)}
    busy = stolen = 0
    with open("/proc/stat", encoding="ascii") as fh:
        for line in fh:
            name, *ticks = line.split()
            if name in cpus:
                user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, ticks[:8])
                busy += user + nice + system + irq + softirq
                stolen += steal
    return busy, stolen


class Unstolen:
    """Times a block: ``wall`` seconds, ``stolen_share`` (stolen ticks
    over busy plus stolen ticks of this process's CPUs over the block)
    and ``seconds``, the wall time less that share: an estimate of the
    time the block would take had no other guest taken the CPUs."""

    def __enter__(self) -> "Unstolen":
        self._t0, self._c0 = time.perf_counter(), cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._c0, cpu_ticks()))
        self.stolen_share = stolen / (busy + stolen) if busy + stolen else 0.0
        self.seconds = self.wall * (1 - self.stolen_share)


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                ppid = int(fh.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_rss_bytes(root: int, page: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (JVM, Python workers) every ``RSS_INTERVAL_S``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
