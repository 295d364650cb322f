"""Spans around the benchmark's calls, event-log folding, and peak RSS.

A span records one public call the benchmark makes into the program:
``<module>.<function>``, wall-clock start/end, the enclosing span and a
trace id shared by the spans of one operation. Spans are kept in memory
and written out when the run ends.

Spark's event log of the benchmark's own session is folded into the
spans by time window, not by job group: ``run_pipeline`` submits jobs
from its own thread pool, whose threads do not inherit the caller's job
group, and jobs that carry a description record no Python call site.
The benchmark makes one call at a time, so every job submitted (and
every task launched) inside a span's window belongs to that span.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Times every call; records spans only when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0

    def new_trace(self) -> None:
        """Start a new operation: later root spans get a fresh trace id."""
        self._trace += 1

    @contextmanager
    def span(self, name: str):
        """Yield a record whose ``s`` is the call's duration once it exits."""
        rec: dict = {"name": name, "s": 0.0}
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec.update(
                id=len(self.spans),
                parent=parent["id"] if parent else None,
                trace=self._trace,
                start=time.time(),
            )
            self.spans.append(rec)
            self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.enabled:
                rec["end"] = time.time()
                self._stack.pop()


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``: the rolled
    ``eventlog_v2_*/events_<n>_*`` files Spark writes, in index order."""
    events: list[dict] = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = sorted(
            glob.glob(os.path.join(app, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in files:
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _skew(runs_by_stage: dict[int, list[int]]) -> float:
    """Worst max/median task run time over stages with >= 2 tasks (1.0 if none)."""
    worst = 1.0
    for runs in runs_by_stage.values():
        if len(runs) >= 2:
            med = statistics.median(runs)
            if med > 0:
                worst = max(worst, max(runs) / med)
    return worst


def fold(spans: list[dict], events: list[dict]) -> None:
    """Add ``jobs, tasks, executor_cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, task_skew`` to every span: the jobs submitted and the
    tasks launched between its start and end (epoch milliseconds)."""
    jobs = [e["Submission Time"] for e in events if e.get("Event") == "SparkListenerJobStart"]
    tasks = [
        (e["Task Info"]["Launch Time"], e["Stage ID"], e.get("Task Metrics") or {})
        for e in events
        if e.get("Event") == "SparkListenerTaskEnd"
    ]
    for sp in spans:
        lo, hi = math.floor(sp["start"] * 1000), math.ceil(sp["end"] * 1000)
        mine = [(st, m) for (t, st, m) in tasks if lo <= t <= hi]
        runs: dict[int, list[int]] = {}
        for st, m in mine:
            runs.setdefault(st, []).append(m.get("Executor Run Time", 0))
        sp["jobs"] = sum(1 for t in jobs if lo <= t <= hi)
        sp["tasks"] = len(mine)
        sp["executor_cpu_s"] = sum(m.get("Executor CPU Time", 0) for _, m in mine) / 1e9
        sp["gc_s"] = sum(m.get("JVM GC Time", 0) for _, m in mine) / 1e3
        sp["shuffle_write_bytes"] = sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for _, m in mine
        )
        sp["spill_bytes"] = sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for _, m in mine
        )
        sp["task_skew"] = _skew(runs)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``. On a shared
    host, steal is time a co-tenant ran while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_tree(root: int) -> dict[int, int]:
    """``root`` and every live descendant -> parent pid, from ``/proc/<pid>/stat``."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we scanned
            continue
        parent[int(stat.split("/")[2])] = int(fields[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = parent.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak summed RSS of this process tree (driver Python, JVM, Python
    workers), sampled from ``/proc`` every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        tree = process_tree(os.getpid())
        statm: dict[int, str] = {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    statm[pid] = f.read()
            except OSError:
                continue
        # A child with its parent's address-space size still shares the
        # parent's pages (the JVM spawns processes through vfork, and the
        # child has not exec'd yet): count those pages once. Its resident
        # count, read a moment apart from the parent's, can differ.
        size = {pid: m.split()[0] for pid, m in statm.items()}
        total = sum(
            int(m.split()[1]) * self._page
            for pid, m in statm.items()
            if size[pid] != size.get(tree[pid])
        )
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
