"""Spans and counters for the traced run.

Spans are recorded by the benchmark around its own calls into the repo
and, where the repo calls itself, by wrapping a module's public function
for the length of the run (``Tracer.wrap``). Nothing in the program is
edited: the wrappers live here and are removed when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``
    (children may overlap each other, as concurrent sync nodes do)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name: a span's duration minus the part
    of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - covered(s.start, s.end, children.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


class Tracer:
    """In-memory span store. A span's parent is the innermost open span
    of the same thread; spans opened on a thread with nothing open (the
    sync pool's workers) are orphans until ``adopt`` places them. With
    ``counters`` set, each span also records the ids of the Spark jobs
    it launched itself (``attrs["jobs"]``)."""

    enabled = True

    def __init__(self, counters: "SparkCounters | None" = None) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.counters = counters
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, start, end, parent=None, thread=None, **attrs) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, start, end, parent, self.op,
                     thread if thread is not None else threading.get_ident(), attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1].id if stack else None
        s = self.add(name, float("nan"), float("nan"), parent, **attrs)
        stack.append(s)
        prev = self.counters.enter(f"span-{s.id}") if self.counters else None
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.counters:
                self.counters.leave(prev)
                s.attrs["jobs"] = sorted(self.counters.jobs(f"span-{s.id}"))

    def current(self) -> Span | None:
        """The innermost open span of the calling thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, owner, attr: str, name: str, label=None, result=None) -> None:
        """Replace ``owner.attr`` with a version that records a span named
        ``name`` around each call; ``label(*args, **kwargs)`` and
        ``result(return_value)`` may add attributes. Class methods stay
        class methods."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, **(label(*args, **kwargs) if label else {})) as s:
                out = fn(*args, **kwargs)
                if result:
                    s.attrs.update(result(out))
                return out

        traced.__wrapped__ = fn
        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def adopt(self, root: Span, homes: list[Span], since: int) -> None:
        """Give each orphan span recorded since index ``since`` a parent:
        the span of ``homes`` that ran on the same thread and encloses it,
        else ``root``."""
        home_ids = {h.id for h in homes}
        for s in self.spans[since:]:
            if s.parent is not None or s.id == root.id or s.id in home_ids:
                continue
            home = next(
                (h for h in homes
                 if h.thread == s.thread
                 and h.start <= s.start and s.end <= h.end + 1e-3),
                root,
            )
            s.parent = home.id

    def subtree_jobs(self, span: Span) -> set[int]:
        """Jobs launched by ``span`` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: set[int] = set()
        todo = [span]
        while todo:
            s = todo.pop()
            out.update(s.attrs.get("jobs", ()))
            out.update(s.attrs.get("ungrouped_jobs", ()))
            todo.extend(kids.get(s.id, ()))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False
    op = None

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class SparkCounters:
    """Jobs, stages and tasks per span. Each traced span runs its jobs
    in a job group of its own (set on the calling thread, then restored),
    so ``statusTracker`` attributes every job exactly, also on the sync
    pool's threads. Stage metrics come from the monitoring REST API at
    ``sc.uiWebUrl``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def enter(self, group: str) -> str | None:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def leave(self, prev: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def jobs(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, jobs: set[int]) -> set[int]:
        out: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def stage_metrics(self) -> dict[int, dict]:
        """stageId -> metrics summed over attempts, for every stage the
        UI still holds. Skipped stages are absent: they never ran."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        api = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/stages")
        with urllib.request.urlopen(api, timeout=60) as r:
            stages = json.load(r)
        out: dict[int, dict] = {}
        for st in stages:
            if st.get("status") == "SKIPPED":
                continue
            m = out.setdefault(st["stageId"], dict.fromkeys(STAGE_METRICS, 0.0))
            m["spark.tasks"] += st.get("numTasks", 0)
            m["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            m["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            m["spark.spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                       + st.get("diskBytesSpilled", 0))
        return out


STAGE_METRICS = (
    "spark.tasks", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
