"""Measurement helpers that sit outside the package: spans around the
benchmark's calls into it, Spark job/stage/task counts read through
``statusTracker()`` per job group, a sampler of the process tree's
resident memory, and the process tree's CPU time.

Spans and counts are kept in memory and written once, at the end of a
run. With tracing off, ``Tracer.span`` records nothing and no job group
is set, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int


@dataclass
class JobCounts:
    """What Spark ran under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    narrow_stages: int = 0
    failed_tasks: int = 0


@dataclass
class Tracer:
    enabled: bool
    cores: int = 1
    spans: list[Span] = field(default_factory=list)
    counts: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, op, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    @contextmanager
    def job_group(self, sc, group: str, op: int | None = None):
        """Tag the jobs the body launches with ``group`` and, on exit,
        record their job, stage and task counts."""
        if not self.enabled:
            yield
            return
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setJobGroup("", "")
            self.record(sc, group, op)

    def record(self, sc, group: str, op: int | None) -> None:
        """Store the counts of the jobs Spark ran under ``group``."""
        if self.enabled:
            self.counts.append({"group": group, "op": op, **asdict(job_counts(sc, group, self.cores))})

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [asdict(s) for s in self.spans], "counts": self.counts}, f
            )


def job_counts(sc, group: str, cores: int) -> JobCounts:
    st = sc.statusTracker()
    out = JobCounts()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            out.stages += 1
            out.tasks += stage.numTasks
            out.failed_tasks += stage.numFailedTasks
            out.narrow_stages += stage.numTasks < cores
    return out


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        table[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    return table


def descendants(root: int, table: dict[int, int] | None = None) -> list[int]:
    """Every process below ``root`` (the JVM and its Python workers are
    children of this process)."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, as /proc shows their names.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(stat_path: str) -> list[int]:
    """utime, stime, cutime, cstime of a process or thread."""
    with open(stat_path) as f:
        stat = f.read()
    return [int(x) for x in stat[stat.rfind(")") + 2 :].split()[11:15]]


def _jit_ticks(pid: int) -> int:
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    total += sum(_stat_ticks(f"/proc/{pid}/task/{tid}/stat")[:2])
        except OSError:
            continue
    return total


def tree_cpu_s(root: int, jit: bool = True) -> float:
    """CPU seconds ``root`` and its live descendants have used so far,
    counting the reaped children of each (a finished Python worker's
    time is in its daemon's). A guest kernel with steal accounting
    leaves the time the hypervisor gave to other guests out of it.

    With ``jit=False`` the JVM's JIT compiler threads are left out: they
    compile in the background for minutes after start, in bursts of 0
    to 2 CPU seconds per backfill, while the work itself varies by a
    few percent."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += sum(_stat_ticks(f"/proc/{pid}/stat"))
            if not jit:
                total -= _jit_ticks(pid)
        except OSError:
            continue
    return total / _TICK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and the descendants that run a program of
    their own. A child still running its parent's executable is a fork
    (a Python worker forked from its daemon, a helper the JVM forks
    before exec) whose pages are mostly its parent's; counting its RSS
    would count them twice. RSS is read after the executable, so a
    child that execs between the two reads is not counted at its
    parent's size."""
    table = _proc_table()
    total = _rss_bytes(root)
    for p in descendants(root, table):
        exe = _exe(p)
        if exe is not None and exe != _exe(table[p]):
            total += _rss_bytes(p)
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
