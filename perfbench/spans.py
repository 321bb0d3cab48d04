"""Spans around calls into the program's layers, and Spark event-log counters.

A :class:`Tracer` records one :class:`Span` (name, start, end, parent,
run id) per ``with tracer.span(name):`` block and keeps them in memory;
the caller writes them out once at the end. While a span is open, every Spark job the
driver thread launches carries the span id as its job group
(``spark.jobGroup.id``), so the task counters of Spark's event log can be
attributed to the span that caused them (:func:`parse_event_log`).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``set_group`` receives the innermost open
    span id (None when no span is open) and tags Spark jobs with it. A
    disabled tracer yields None and records nothing."""

    def __init__(
        self,
        run_id: str = "",
        set_group: Callable[[str | None], None] | None = None,
        enabled: bool = True,
    ):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._set_group = set_group or (lambda _gid: None)
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"{self.run_id}/{self._next}",
            name=name,
            start=time.perf_counter(),
            end=float("nan"),
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self._next += 1
        self._stack.append(s)
        self._set_group(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.span_id if parent else None)
            self.spans.append(s)


NULL_TRACER = Tracer(enabled=False)


def covered_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part its direct children cover."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - covered_length(clipped)
    return out


def descendants(spans: list[Span], root_id: str) -> list[Span]:
    """All spans under ``root_id`` (the root included)."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    by_id = {s.span_id: s for s in spans}
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(k.span_id for k in kids.get(sid, ()))
    return out


# -- Spark event log ------------------------------------------------------------


@dataclass
class TaskRecord:
    stage: int
    group: str | None
    launch_ms: int
    finish_ms: int
    failed: bool
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    input_records: int = 0
    python_bytes_sent: int = 0

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


PYTHON_SENT = "data sent to Python workers"


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def parse_event_log(lines: Iterable[str]) -> list[TaskRecord]:
    """Task records from a Spark JSON event log, each tagged with the job
    group of the stage that ran it."""
    stage_group: dict[int, str | None] = {}
    tasks: list[TaskRecord] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group is not None or sid not in stage_group:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sent = sum(
                _num(a.get("Update"))
                for a in info.get("Accumulables", ())
                if a.get("Name") == PYTHON_SENT
            )
            tasks.append(
                TaskRecord(
                    stage=ev["Stage ID"],
                    group=stage_group.get(ev["Stage ID"]),
                    launch_ms=_num(info.get("Launch Time")),
                    finish_ms=_num(info.get("Finish Time")),
                    failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                    cpu_ns=_num(m.get("Executor CPU Time")),
                    gc_ms=_num(m.get("JVM GC Time")),
                    spill_bytes=_num(m.get("Disk Bytes Spilled")),
                    shuffle_write_bytes=_num(sw.get("Shuffle Bytes Written")),
                    shuffle_read_bytes=_num(sr.get("Remote Bytes Read"))
                    + _num(sr.get("Local Bytes Read")),
                    shuffle_read_records=_num(sr.get("Total Records Read")),
                    input_records=_num(
                        (m.get("Input Metrics") or {}).get("Records Read")
                    ),
                    python_bytes_sent=sent,
                )
            )
    return tasks


@dataclass
class Counters:
    tasks: int = 0
    tasks_failed: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    input_records: int = 0
    python_bytes_sent: int = 0
    task_skew: float = 0.0


def counters(tasks: list[TaskRecord], groups: set[str]) -> Counters:
    """Summed task counters of the tasks whose stage ran under one of
    ``groups``. ``task_skew`` is max / median task duration in the stage
    with the longest wall (first launch to last finish)."""
    mine = [t for t in tasks if t.group in groups]
    c = Counters()
    by_stage: dict[int, list[TaskRecord]] = {}
    for t in mine:
        c.tasks += 1
        c.tasks_failed += t.failed
        c.cpu_s += t.cpu_ns / 1e9
        c.gc_s += t.gc_ms / 1e3
        c.spill_bytes += t.spill_bytes
        c.shuffle_write_bytes += t.shuffle_write_bytes
        c.shuffle_read_bytes += t.shuffle_read_bytes
        c.shuffle_read_records += t.shuffle_read_records
        c.input_records += t.input_records
        c.python_bytes_sent += t.python_bytes_sent
        by_stage.setdefault(t.stage, []).append(t)
    if by_stage:
        longest = max(
            by_stage.values(),
            key=lambda ts: max(t.finish_ms for t in ts) - min(t.launch_ms for t in ts),
        )
        med = statistics.median(t.duration_ms for t in longest)
        c.task_skew = max(t.duration_ms for t in longest) / med if med > 0 else 1.0
    return c
