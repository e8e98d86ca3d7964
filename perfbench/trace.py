"""Spans around the engine's public calls, and Spark task metrics folded
per span from the event log.

A :class:`Tracer` patches the engine's eager public methods at run time
(nothing in the engine changes). Each wrapper records a span — name,
start, end, parent, run id — in memory, and tags every Spark job started
inside it through the thread-local Spark property ``perfbench.span``, so
the event log's task metrics can be attributed back to the span.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float
    run_id: str
    thread: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: sid -> start of every open span, for parenting spans opened on
        #: threads with no open span of their own (orchestrator workers,
        #: the streaming callback thread)
        self._open: dict[int, float] = {}
        self._patched: list[tuple[type, str, object]] = []

    def _parent(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        if stack:
            return stack[-1]
        with self._lock:
            return min(self._open) if self._open else None

    @contextmanager
    def span(self, name: str):
        """Record a span around the block; yields its mutable attrs."""
        attrs: dict = {}
        parent = self._parent()
        sid = next(self._ids)
        sc = _spark_context()
        prev = sc.getLocalProperty(SPAN_PROPERTY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sid)
        start = time.time()
        with self._lock:
            self._open[sid] = start
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self._open.pop(sid, None)
                self.spans.append(
                    Span(sid, name, parent, start, end, self.run_id, threading.get_ident(), attrs)
                )

    def wrap(
        self,
        cls: type,
        method: str,
        name: str,
        before: Callable | None = None,
        after: Callable | None = None,
    ) -> None:
        """Replace ``cls.method`` with a spanned version. ``before(args,
        kwargs)`` returns a context handed to ``after(ctx, args, kwargs,
        result, attrs)``, which may add attributes to the span."""
        original = cls.__dict__[method]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            ctx = before(args, kwargs) if before else None
            with self.span(name) as attrs:
                result = original(*args, **kwargs)
                if after:
                    after(ctx, args, kwargs, result, attrs)
            return result

        setattr(cls, method, traced)
        self._patched.append((cls, method, original))

    def unwrap(self) -> None:
        while self._patched:
            cls, method, original = self._patched.pop()
            setattr(cls, method, original)


# ---------------------------------------------------------------------------
# span arithmetic


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (children may overlap each other, e.g. parallel table syncs)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def descendants(sid: int, kids: dict[int, list[Span]]) -> list[int]:
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(c.sid for c in kids.get(cur, ()))
    return out


# ---------------------------------------------------------------------------
# event-log fold

METRIC_KEYS = (
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "spill_bytes",
)


@dataclass
class Fold:
    """Task metrics of one event log, keyed by job and by span tag."""

    #: job id -> (span id or None, submission time in epoch seconds)
    jobs: dict[int, tuple[int | None, float]] = field(default_factory=dict)
    #: stage id -> owning job id (the first job that listed it)
    stage_job: dict[int, int] = field(default_factory=dict)
    #: stage id -> summed task metrics
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    #: stage id -> task run times in ms (for skew)
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        return [j for j, (_s, t) in self.jobs.items() if t0 <= t <= t1]

    def totals(self, jobs: list[int]) -> dict[str, float]:
        """Summed metrics plus job/stage/task counts and the worst
        stage's task skew (max / median task run time) over ``jobs``."""
        want = set(jobs)
        out = dict.fromkeys(METRIC_KEYS, 0.0)
        stages = [s for s, j in self.stage_job.items() if j in want and s in self.stage_metrics]
        for s in stages:
            for k, v in self.stage_metrics[s].items():
                out[k] += v
        out["jobs"] = float(len(want))
        out["stages"] = float(len(stages))
        out["tasks"] = float(sum(len(self.stage_tasks.get(s, ())) for s in stages))
        out["task_skew"] = task_skew([self.stage_tasks.get(s, []) for s in stages])
        return out

    def span_jobs(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for j, (sid, _t) in self.jobs.items():
            if sid is not None:
                out[sid].append(j)
        return out


#: stages whose slowest task ran shorter than this are scheduling noise
#: and take no part in the skew
MIN_SKEW_TASK_MS = 50.0


def task_skew(stage_task_ms: list[list[float]]) -> float:
    """Worst max/median task run time over stages with at least two
    tasks whose slowest task ran ``MIN_SKEW_TASK_MS`` or longer. 1.0
    when no stage qualifies."""
    worst = 1.0
    for tasks in stage_task_ms:
        if len(tasks) < 2 or max(tasks) < MIN_SKEW_TASK_MS:
            continue
        worst = max(worst, max(tasks) / max(1.0, statistics.median(tasks)))
    return worst


def _task_metrics(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def fold_events(lines) -> Fold:
    """Fold Spark event-log JSON lines into per-job and per-stage task
    metrics."""
    fold = Fold()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            fold.jobs[job] = (int(tag) if tag else None, ev.get("Submission Time", 0) / 1e3)
            for sid in ev.get("Stage IDs", ()):
                fold.stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            acc = fold.stage_metrics.setdefault(stage, dict.fromkeys(METRIC_KEYS, 0.0))
            for k, v in _task_metrics(m).items():
                acc[k] += v
            fold.stage_tasks.setdefault(stage, []).append(float(m.get("Executor Run Time", 0)))
    return fold


def fold_event_dir(path: str) -> Fold:
    """Fold the single application log under an event-log directory."""
    logs = [p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log under {path}, found {len(logs)}")
    with open(logs[0], encoding="utf-8") as f:
        return fold_events(f)
