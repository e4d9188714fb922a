"""Benchmark-side instrumentation: spans, process-tree RSS and Spark's
event log.

Everything here observes the engine from outside. Spans wrap the calls
the benchmark makes into the engine's public modules; Spark's own task,
stage and job records come from the event log, which the traced run
switches on through launch configuration. Events are attributed to a
span by time: the benchmark runs one call at a time from one thread, so
a job, stage or task belongs to the innermost span whose wall-clock
interval holds its start.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
# driver-side metric of a file scan; the executors' "Bytes Read" task
# metric under-counts parquet reads
SCAN_BYTES = "size of files read"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's epoch-ms stamps
    end: float
    parent: int | None
    pass_id: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it only runs the body, so the
    untraced run pays nothing but a context manager per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pass: int | None = None
        self._next_pass = 0

    @contextmanager
    def span(self, name: str, *, new_pass: bool = False):
        if not self.enabled:
            yield
            return
        if new_pass:
            self._pass, self._next_pass = self._next_pass, self._next_pass + 1
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, parent, self._pass))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()
            if new_pass:
                self._pass = None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == span.id)
        return span.seconds - kids

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int]]]:
    """Children of each process, and the name and resident pages of
    each, from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    info: dict[int, tuple[str, int, int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        kids[int(rest[1])].append(int(d))
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        # name, resident pages, virtual size, parent
        info[int(d)] = (name, int(rest[21]), int(rest[20]), int(rest[1]))
    # a child between vfork and exec (the JVM spawning a process) shares
    # its parent's address space, so it reports the parent's virtual size
    # and resident pages: count those once
    pages = {
        pid: (name, rss)
        for pid, (name, rss, vsize, ppid) in info.items()
        if ppid not in info or info[ppid][2] != vsize
    }
    return kids, pages


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    if kids is None:
        kids = _proc_table()[0]
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        # process name -> (count, MB) at the peak
        self.breakdown: dict[str, tuple[int, float]] = {}
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        kids, pages = _proc_table()
        me = os.getpid()
        tree = [pages[p] for p in [me, *descendants(me, kids)] if p in pages]
        total = sum(n for _, n in tree) * self._page
        if total > self.peak:
            self.peak = total
            by: dict[str, tuple[int, float]] = {}
            for comm, n in tree:
                c, mb = by.get(comm, (0, 0.0))
                by[comm] = (c + 1, mb + n * self._page / 2**20)
            self.breakdown = by

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


@dataclass
class Task:
    stage: tuple[str, int, int]
    launch: float
    run_s: float
    gc_s: float
    out_bytes: int
    shuffle_bytes: int
    shuffle_records: int
    py_sent: int
    py_recv: int


@dataclass
class EventLog:
    """Tasks, stages and job submissions of every Spark application whose
    event log sits in one directory (one application per session
    start)."""

    tasks: list[Task] = field(default_factory=list)
    # (app, stage id, attempt) -> (submitted, completed), epoch seconds
    stages: dict[tuple[str, int, int], tuple[float, float]] = field(default_factory=dict)
    jobs: list[float] = field(default_factory=list)
    # (start of the SQL execution, bytes) per update of SCAN_BYTES
    scans: list[tuple[float, int]] = field(default_factory=list)
    _scan_ids: set[tuple[str, int]] = field(default_factory=set)
    _exec_start: dict[tuple[str, int], float] = field(default_factory=dict)
    _updates: list[tuple[str, int, int, int]] = field(default_factory=list)

    @classmethod
    def load(cls, directory: Path) -> EventLog:
        log = cls()
        for path in sorted(directory.iterdir()):
            app = path.name
            with path.open() as f:
                for line in f:
                    log._add(app, json.loads(line))
        # a plan can declare a metric after the driver has updated it
        log.scans = [
            (log._exec_start[app, ex], value)
            for app, ex, acc, value in log._updates
            if (app, acc) in log._scan_ids and (app, ex) in log._exec_start
        ]
        return log

    def _plan_metrics(self, app: str, node: dict) -> None:
        for m in node.get("metrics", []):
            if m["name"] == SCAN_BYTES:
                self._scan_ids.add((app, m["accumulatorId"]))
        for child in node.get("children", []):
            self._plan_metrics(app, child)

    def _add(self, app: str, ev: dict) -> None:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self._exec_start[app, ev["executionId"]] = ev["time"] / 1e3
            self._plan_metrics(app, ev["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan_metrics(app, ev["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in ev["accumUpdates"]:
                self._updates.append((app, ev["executionId"], acc, int(value)))
        elif kind == "SparkListenerJobStart":
            self.jobs.append(ev["Submission Time"] / 1e3)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                key = (app, info["Stage ID"], info["Stage Attempt ID"])
                self.stages[key] = (
                    info["Submission Time"] / 1e3,
                    info["Completion Time"] / 1e3,
                )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            acc = defaultdict(int)
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RECV):
                    acc[a["Name"]] += int(a.get("Update", 0))
            sw = m.get("Shuffle Write Metrics", {})
            self.tasks.append(
                Task(
                    stage=(app, ev["Stage ID"], ev["Stage Attempt ID"]),
                    launch=info["Launch Time"] / 1e3,
                    run_s=m.get("Executor Run Time", 0) / 1e3,
                    gc_s=m.get("JVM GC Time", 0) / 1e3,
                    out_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                    shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_records=sw.get("Shuffle Records Written", 0),
                    py_sent=acc[PY_SENT],
                    py_recv=acc[PY_RECV],
                )
            )

    def within(self, span: Span) -> SpanEvents:
        tasks = [t for t in self.tasks if span.start <= t.launch <= span.end]
        keys = {t.stage for t in tasks}
        return SpanEvents(
            tasks=tasks,
            stages={k: self.stages[k] for k in keys if k in self.stages},
            jobs=sum(span.start <= j <= span.end for j in self.jobs),
            scan_bytes=sum(b for t, b in self.scans if span.start <= t <= span.end),
        )


@dataclass
class SpanEvents:
    tasks: list[Task]
    stages: dict[tuple[str, int, int], tuple[float, float]]
    jobs: int
    scan_bytes: int

    def python_stages(self) -> set[tuple[str, int, int]]:
        """Stages that run a Python UDF: their tasks move bytes to and
        from Python workers. In this engine those are the grouped-map
        kernel stages."""
        return {t.stage for t in self.tasks if t.py_sent or t.py_recv}

    def stage_seconds(self, keys) -> float:
        return sum(e - s for k, (s, e) in self.stages.items() if k in keys)

    def core_counts(self, wall_s: float, cores: int) -> dict[str, float]:
        py = self.python_stages()
        run_s = sum(t.run_s for t in self.tasks)
        skews = []
        for key in py:
            times = [t.run_s for t in self.tasks if t.stage == key]
            med = statistics.median(times)
            if med > 0:
                skews.append(max(times) / med)
        return {
            "core.tasks": len(self.tasks),
            "core.shuffle_write_bytes": sum(t.shuffle_bytes for t in self.tasks),
            "core.shuffle_records": sum(t.shuffle_records for t in self.tasks),
            "core.python_bytes_sent": sum(t.py_sent for t in self.tasks),
            "core.python_bytes_received": sum(t.py_recv for t in self.tasks),
            "core.kernel_stage_s": self.stage_seconds(py),
            "core.executor_run_s": run_s,
            "core.gc_s": sum(t.gc_s for t in self.tasks),
            "core.busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "core.task_skew": max(skews) if skews else 1.0,
            "sources.scan_bytes": self.scan_bytes,
            "sources.bytes_written": sum(t.out_bytes for t in self.tasks),
            "sources.write_s": self.stage_seconds(
                {t.stage for t in self.tasks if t.out_bytes}
            ),
        }
