"""Spans recorded around the benchmark's calls into each layer, and the
parser that turns Spark's event log into per-job-group counters.

Spans live in memory and are written out when the run ends. A layer's
self time is the time its spans cover minus the part their child spans
cover. Spark work is attributed to a span through the job group the
benchmark sets before the call (``SparkContext.setJobGroup``); the
event log's job-start events carry that group id."""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans on one thread. ``on_enter``/``on_exit`` let the
    caller tag Spark jobs with the span id while it is open."""

    def __init__(self, on_enter=None, on_exit=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), layer, name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(s, self._stack[-1] if self._stack else None)

    def self_times(self) -> dict[str, float]:
        return layer_self_times(self.spans)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "layer": s.layer, "name": s.name, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6)}
            for s in self.spans
        ]


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer not covered by that span's direct children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += max(s.dur - child_time[s.sid], 0.0)
    return dict(out)


# --- Spark event log -------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class GroupStats:
    """Counters of every task that ran under one job group."""

    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    py_sent_b: float = 0.0
    py_recv_b: float = 0.0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task run time in the stage with the most tasks
        (1.0 when no stage ran)."""
        if not self.stage_task_ms:
            return 1.0
        widest = max(self.stage_task_ms.values(), key=len)
        med = statistics.median(widest)
        return max(widest) / med if med > 0 else 1.0


def _acc(task_info: dict, name: str) -> float:
    total = 0.0
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                total += float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate task-end metrics per job group from event-log JSON lines
    (an iterable of str). Tasks of jobs without a group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs.add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.stages.add(ev["Stage ID"])
            g.tasks += 1
            run = float(m.get("Executor Run Time", 0))
            g.run_ms += run
            g.gc_ms += float(m.get("JVM GC Time", 0))
            w = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_b += float(w.get("Shuffle Bytes Written", 0))
            r = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_b += float(r.get("Remote Bytes Read", 0)) + float(
                r.get("Local Bytes Read", 0))
            g.spill_b += float(m.get("Disk Bytes Spilled", 0))
            g.py_sent_b += _acc(info, _PY_SENT)
            g.py_recv_b += _acc(info, _PY_RECV)
            g.stage_task_ms[ev["Stage ID"]].append(run)
    return dict(out)
