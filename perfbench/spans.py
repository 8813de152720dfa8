"""Span recorder, self-time arithmetic and Spark event-log counters.

Spans are recorded by the benchmark around its own calls into the
engine's public functions; nothing inside the engine is instrumented.
They are kept in memory and written out once, when the run ends.

Spark counters come from the event log (enabled only in traced runs).
Each traced call sets ``sparkContext.setJobDescription`` to a label
``op<id>:<span name>``, which Spark stores in the ``JobStart``
properties, so every job, stage and task in the log can be attributed
to the operation that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory spans with parent links; one ``op_id`` per operation."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = spark
        self.op_id = 0

    def new_op(self) -> int:
        self.op_id += 1
        return self.op_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.op_id)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is not None:
            sc.setJobDescription(job_label(self.op_id, name))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                top = self.spans[self._stack[-1]] if self._stack else None
                sc.setJobDescription(
                    job_label(top.op_id, top.name) if top else None)

    def write(self, path: str) -> None:
        """All spans, each with its self time, as one JSON list."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": st[s.span_id]}
                       for s in self.spans], f)


def job_label(op_id: int, name: str) -> str:
    return f"op{op_id}:{name}"


def parse_label(label: str | None) -> tuple[int, str] | None:
    if not label or not label.startswith("op") or ":" not in label:
        return None
    head, name = label.split(":", 1)
    try:
        return int(head[2:]), name
    except ValueError:
        return None


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.span_id: s.duration - _covered(kids[s.span_id], s.start, s.end)
            for s in spans}


def prefix_self_times(durations: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each lazy layer measured as successive prefixes:
    materializing prefix k costs prefix k-1 plus layer k, so layer k's
    self time is the difference of the two (the first prefix is its own
    self time)."""
    out, prev = {}, 0.0
    for name, d in durations:
        out[name] = d - prev
        prev = d
    return out


# ---------------------------------------------------------------- event log


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    task_busy_s: float = 0.0
    longest_stage_s: float = 0.0
    task_skew: float = 0.0

    def add(self, other: "OpCounters") -> None:
        """Accumulate ``other``; skew follows the longest stage."""
        for f in ("jobs", "stages", "tasks", "failed_tasks",
                  "shuffle_write_bytes", "executor_cpu_s", "gc_s",
                  "task_busy_s"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        if other.longest_stage_s >= self.longest_stage_s:
            self.longest_stage_s = other.longest_stage_s
            self.task_skew = other.task_skew


def read_event_logs(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in file
    name order (one file per application with rolling logs off)."""
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir)
        for n in names if not n.startswith((".", "appstatus")))
    events = []
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def counters_by_label(events: list[dict]) -> dict[tuple[int, str], OpCounters]:
    """Per job label ``(op id, span name)``: jobs, completed stages,
    tasks and their metrics, and the skew (longest / median task) of
    the label's stage with the longest wall time. Applications are kept
    apart by their start events, since job and stage ids restart in
    every application."""
    app = 0
    stage_label: dict[tuple[int, int], tuple[int, str]] = {}
    stage_wall: dict[tuple[int, int], float] = {}
    task_durs: dict[tuple[int, int], list[float]] = defaultdict(list)
    out: dict[tuple[int, str], OpCounters] = defaultdict(OpCounters)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            label = parse_label(
                (ev.get("Properties") or {}).get("spark.job.description"))
            if label is None:
                continue
            out[label].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_label[(app, sid)] = label
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (app, info["Stage ID"])
            label = stage_label.get(key)
            if label is None:
                continue
            out[label].stages += 1
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                stage_wall[key] = (done - sub) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (app, ev["Stage ID"])
            label = stage_label.get(key)
            if label is None:
                continue
            c = out[label]
            info = ev.get("Task Info", {})
            c.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                c.failed_tasks += 1
            dur = max(info.get("Finish Time", 0) - info.get("Launch Time", 0),
                      0) / 1000.0
            c.task_busy_s += dur
            task_durs[key].append(dur)
            m = ev.get("Task Metrics") or {}
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1000.0
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
    for key, wall in stage_wall.items():
        c = out[stage_label[key]]
        durs = task_durs.get(key)
        if durs and wall >= c.longest_stage_s:
            med = statistics.median(durs)
            c.longest_stage_s = wall
            c.task_skew = max(durs) / med if med > 0 else 1.0
    return dict(out)
