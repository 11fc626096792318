"""Spans around calls into the engine's layers, and the Spark event-log fold.

A ``Tracer`` keeps spans in memory: name, start, end, parent and tags. A
span wrapped around a call into the engine also sets a Spark job group named
after the span, so every Spark job the call runs can be charged to it: the
session writes an uncompressed, non-rolling event log, and ``fold_event_log``
sums its ``SparkListenerTaskEnd`` metrics per job group.

Self time is a span's duration minus the part of it that its child spans
cover; the self times of a span tree add up to the root's duration.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; when given a SparkContext, tags its jobs per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, **tags) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter(), tags=tags)
        self.spans.append(span)
        self._stack.append(span)
        if self.sc is not None:
            self.sc.setJobGroup(span.group, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order (open: {popped.name})")
        if self.sc is not None:
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, **s.tags}
                for s in self.spans]


def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        out[s.parent].append(s)
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids = children(spans)
    out = {}
    for s in spans:
        clipped = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        out[s.id] = s.duration - _covered([iv for iv in clipped if iv[1] > iv[0]])
    return out


def descendants(spans: list[Span], root: int) -> list[Span]:
    kids = children(spans)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c.id)
    return out


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb")
MB = 1 << 20


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over a Spark JSON event log.

    ``lines`` iterates the log's lines. Jobs outside any group fold under
    ``""``. Each group maps to the ``SPARK_FIELDS`` counters."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    seen_stages: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            group = stage_group.get(sid, "")
            acc = out[group]
            if sid not in seen_stages:
                seen_stages.add(sid)
                acc["stages"] += 1
            acc["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            acc["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return dict(out)


def spark_totals(folded: dict[str, dict[str, float]], spans: list[Span]) -> dict[str, float]:
    """Sum the folded counters of the job groups of ``spans``."""
    tot = dict.fromkeys(SPARK_FIELDS, 0.0)
    for s in spans:
        for k, v in folded.get(s.group, {}).items():
            tot[k] += v
    return tot
