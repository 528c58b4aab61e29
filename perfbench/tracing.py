"""Tracing from outside the program: spans, Spark job groups, event-log
task metrics, process-tree memory and process teardown.

Spans are kept in memory and read when the run ends.  Each span sets a
unique Spark job group, so every job started inside it -- and every stage
and task of that job -- can be charged to it from the event log after the
session stops.  Nothing here changes the program: public functions are
wrapped only for the duration of a traced call and restored afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

# Per job group; the names are the session layer's metric names.
FIELDS = ("spark_jobs", "spark_tasks", "task_run_s", "task_cpu_s", "py_s",
          "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    group: str
    start: float
    parent: str | None
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Nested spans, each one a Spark job group (``<name>#<n>``)."""
    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{name}#{len(self.spans)}", time.perf_counter(),
                 parent.group if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent.group if parent else None)

    @contextlib.contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]]):
        """Wrap ``owner.attr`` in a span named ``name`` for each target,
        restoring the originals on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return inner

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, group: str) -> set[str]:
        out, frontier = {group}, {group}
        while frontier:
            frontier = {s.group for s in self.spans if s.parent in frontier}
            out |= frontier
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s.wall for s in self.spans if s.parent == span.group)
        return span.wall - kids


# ------------------------------------------------------------ event log

def read_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group: job count plus summed task metrics (``FIELDS``).  Read after the
    session has stopped, when the log is complete."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str, dict] = {}

    def acc(g: str | None) -> dict:
        return groups.setdefault(g or "", dict.fromkeys(FIELDS, 0.0))

    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    acc((ev.get("Properties") or {}).get(GROUP_KEY))["spark_jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    a = acc(stage_group.get(ev["Stage ID"]))
                    run = m.get("Executor Run Time", 0) / 1e3
                    cpu = m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    a["spark_tasks"] += 1
                    a["task_run_s"] += run
                    a["task_cpu_s"] += cpu
                    a["py_s"] += max(run - cpu, 0.0)
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 2**20
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return groups


def total(groups: dict[str, dict], names: set[str]) -> dict:
    out = dict.fromkeys(FIELDS, 0.0)
    for g in names:
        for k, v in groups.get(g, {}).items():
            out[k] += v
    return out


# ------------------------------------------------------- process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(s[:s.index(" ")])
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_field(path: str, key: str) -> float:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def rss_mb(pid: int) -> float:
    return _proc_field(f"/proc/{pid}/status", "VmRSS:")


def pss_mb(pid: int) -> float:
    """Proportional set size: pages the forked Python workers share with
    their daemon are split between them instead of counted once each.
    Only read for the small worker processes -- walking the JVM's page
    tables this often would slow the JVM down."""
    return _proc_field(f"/proc/{pid}/smaps_rollup", "Pss:")


def is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class PeakRss:
    """Samples the memory of the JVM and its Python workers -- the root's
    (the JVM's) RSS plus every Python descendant's proportional set size --
    every ``period`` seconds on a background thread; ``peak_mb`` is the
    largest sample, ``root_mb`` the root's part of that sample and
    ``procs`` the number of processes in it.

    Other descendants are left out: a process the JVM spawns shares the
    JVM's address space until it execs, and one sample taken in that
    window would count the JVM twice."""

    def __init__(self, root: int, period: float = 0.2):
        self.root, self.period = root, period
        self.peak_mb = self.root_mb = 0.0
        self.procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sizes = {p: rss_mb(p) if p == self.root else pss_mb(p)
                     for p in process_tree(self.root)
                     if p == self.root or is_python(p)}
            if sum(sizes.values()) > self.peak_mb:
                self.peak_mb = sum(sizes.values())
                self.root_mb = sizes.get(self.root, 0.0)
                self.procs = len(sizes)
            self._stop.wait(self.period)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait until
    the JVM and every process it started have ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2] == "Z"
    except OSError:
        return True
