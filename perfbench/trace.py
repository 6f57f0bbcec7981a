"""Spans kept in memory, Spark's event log, and the join between the two.

A span is a named wall-clock interval recorded by the benchmark around a
call into one layer of the engine. Spark jobs, stages and tasks are read
back from Spark's own event log after the session stops, and each job is
attributed to the innermost span that was open when it was SUBMITTED.
Attribution by job group would miss work: a ``ThreadPoolExecutor`` thread
(``jobs.run_export_job`` runs its two sinks on two) does not inherit the
caller's job group, so its jobs carry none.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float | None
    parent: int | None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Records spans in memory; nothing is written until the run ends.

    Each thread keeps its own stack of open spans. A thread whose stack is
    empty (an executor thread started inside a span) parents its spans on
    the innermost span open on the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), None, parent, dict(attrs)))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def descendants(self, idx: int) -> set[int]:
        out, todo = set(), [idx]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(self.children(i))
        return out

    def depth(self, idx: int) -> int:
        d = 0
        while self.spans[idx].parent is not None:
            idx = self.spans[idx].parent
            d += 1
        return d

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[idx]
        kids = [(self.spans[i].start, self.spans[i].end) for i in self.children(idx)]
        return s.wall - union_length(kids, s.start, s.end)

    def last(self, name: str) -> int | None:
        """Index of the most recent span with this name."""
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i].name == name:
                return i
        return None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "self_s": self.self_time(i), **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def low_concurrency_length(intervals, lo: float, hi: float, limit: int = 1) -> float:
    """Time within [lo, hi] during which at most ``limit`` of ``intervals``
    are open (idle time counts)."""
    edges = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    total, level, prev = 0.0, 0, lo
    for t, step in edges:
        if level <= limit:
            total += t - prev
        level += step
        prev = t
    if level <= limit:
        total += hi - prev
    return total


@dataclass
class SparkJob:
    job_id: int
    submit: float
    end: float | None
    group: str | None


@dataclass
class SparkTask:
    stage_id: int
    launch: float
    finish: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: list[SparkJob]
    stage_submit: dict[int, float]
    tasks: list[SparkTask]


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if os.path.exists(path):
        return path
    if os.path.exists(path + ".inprogress"):
        return path + ".inprogress"
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log (JSON lines)."""
    jobs: dict[int, SparkJob] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[SparkTask] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = SparkJob(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, None,
                    props.get("spark.jobGroup.id"),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stage_submit.setdefault(info["Stage ID"], info["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle_w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tasks.append(
                    SparkTask(
                        stage_id=ev["Stage ID"],
                        launch=info["Launch Time"] / 1000.0,
                        finish=info["Finish Time"] / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        shuffle_bytes=shuffle_w,
                        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    )
                )
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), stage_submit, tasks)


def innermost_span(tracer: Tracer, t: float, candidates: list[int]) -> int | None:
    """The deepest candidate span whose interval contains time ``t``."""
    best, best_depth = None, -1
    for i in candidates:
        s = tracer.spans[i]
        if s.end is not None and s.start <= t <= s.end:
            d = tracer.depth(i)
            if d > best_depth:
                best, best_depth = i, d
    return best


@dataclass
class Attribution:
    job_span: dict[int, int | None]  # job_id -> span index
    stage_span: dict[int, int | None]


def attribute(tracer: Tracer, log: EventLog) -> Attribution:
    """Assign every job and stage to the innermost span open at its
    submission time; tasks follow their stage. Two sibling spans open at
    once on different threads (the export's two sinks) split their jobs
    arbitrarily, so counters are read only from spans without such a
    sibling; their parent gets all of the jobs either way."""
    candidates = list(range(len(tracer.spans)))
    return Attribution(
        {j.job_id: innermost_span(tracer, j.submit, candidates) for j in log.jobs},
        {sid: innermost_span(tracer, t, candidates) for sid, t in log.stage_submit.items()},
    )


def span_counters(
    tracer: Tracer, log: EventLog, attr: Attribution, idx: int, input_bytes: int | None = None
) -> dict[str, float]:
    """Spark-side counters for span ``idx`` and everything under it."""
    s = tracer.spans[idx]
    under = tracer.descendants(idx)
    jobs = [j for j in log.jobs if attr.job_span.get(j.job_id) in under]
    tasks = [t for t in log.tasks if attr.stage_span.get(t.stage_id) in under]
    job_time = union_length([(j.submit, j.end or s.end) for j in jobs], s.start, s.end)
    out = {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "driver_s": s.wall - job_time,
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "serial_frac": (
            low_concurrency_length([(t.launch, t.finish) for t in tasks], s.start, s.end) / s.wall
            if s.wall > 0 else 0.0
        ),
    }
    if input_bytes:
        out["read_amplification"] = sum(t.input_bytes for t in tasks) / input_bytes
    return out
