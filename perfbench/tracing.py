"""Spans around calls into the library, and Spark event-log metrics.

The tracer replaces public functions and methods of library modules with
wrappers that record a span (name, start, end, parent, thread) in memory
and set the Spark job description to the span name, so jobs in the event
log can be matched to the call that started them. Nothing in the library
is edited: wrappers are installed from benchmark code at run time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans of one process. A span opened on a worker thread with no open
    span of its own takes the main thread's innermost open span as parent,
    so work the library hands to thread pools stays under its caller."""

    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _main_stack: list[int] = field(default_factory=list)

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(name)
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            parent = (stack or self._main_stack or [None])[-1]
            self.spans.append(
                Span(name, time.time(), 0.0, parent,
                     threading.current_thread().name, sid)
            )
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[sid].end = time.time()
            if sc:
                sc.setLocalProperty("spark.job.description", prev)

    def wrap(self, owner, attr: str, name: str, kind: str = "function"):
        """Replace ``owner.attr`` by a span-recording wrapper. ``kind`` is
        "function", "method" or "classmethod"."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        if kind == "classmethod":
            setattr(owner, attr, staticmethod(wrapper))
        else:
            setattr(owner, attr, wrapper)
        # rebind names other loaded library modules imported before wrapping
        for mod in list(sys.modules.values()):
            if kind != "function" or mod is None or mod is owner:
                continue
            if getattr(mod, "__name__", "").startswith("taco_toolbox_spark"):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)


def progress_listener(events: list):
    """A StreamingQueryListener that appends each progress event, as a
    dict, to ``events``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    jid: int
    submit: float
    description: str
    stages: list[int]


@dataclass
class StageMetrics:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "StageMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageMetrics]]:
    """Jobs and per-stage task metrics from the one event log in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageMetrics] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000,
                    props.get("spark.job.description") or "",
                    list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(ev["Stage ID"], StageMetrics())
                s.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    s.failed_tasks += 1
                s.run_s += m.get("Executor Run Time", 0) / 1000
                s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                s.gc_s += m.get("JVM GC Time", 0) / 1000
                s.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                s.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, int | None]:
    """job id -> span id: the span named by the job description that was
    open at submission, else the innermost span open at submission."""
    out: dict[int, int | None] = {}
    for j in jobs:
        open_ = [s for s in spans if s.start <= j.submit <= (s.end or j.submit)]
        named = [s for s in open_ if s.name == j.description]
        pool = named or open_
        out[j.jid] = max(pool, key=lambda s: s.start).sid if pool else None
    return out


def metrics_of(
    jobs: list[Job], stages: dict[int, StageMetrics], jids: set[int]
) -> StageMetrics:
    total = StageMetrics()
    for j in jobs:
        if j.jid in jids:
            for sid in j.stages:
                if sid in stages:
                    total.add(stages[sid])
    return total
