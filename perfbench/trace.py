"""Spans, prefix-difference self times and Spark event-log counters.

Spark is lazy: calling an operator only builds a plan, so the time spent
inside a layer's function says nothing about the work it causes. A traced
iteration therefore runs the pipeline once per layer boundary, each time
from scratch and forced to completion (a ``noop`` write), and a layer's
self time is the difference between consecutive prefixes:
``self(k) = prefix(k) - prefix(k-1)``.

Each prefix runs inside a span whose name is set as a Spark local
property, so every job, stage and task in the event log carries the name
of the span that caused it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

#: spark.* counters summed per span from the event log
SPARK_COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.task_busy_s",
    "spark.scheduler_wait_s",
    "spark.gc_s",
    "spark.shuffle_bytes_written",
    "spark.spill_bytes",
    "spark.failed_tasks",
    "spark.input_rows",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory; tags Spark jobs with the innermost span."""

    spark_context: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        self._tag(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def _tag(self, name: str | None) -> None:
        if self.spark_context is not None:
            self.spark_context.setLocalProperty(SPAN_PROPERTY, name)


def prefix_self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Layer self times from cumulative prefix wall times, in pipeline order.

    The differences telescope, so the self times add up to the last prefix:
    the wall time of the complete pipeline."""
    out: dict[str, float] = {}
    prev = 0.0
    for layer, wall in prefixes:
        out[layer] = out.get(layer, 0.0) + (wall - prev)
        prev = wall
    return out


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum the spark.* counters per span over one application's event log.

    Stages are attributed to the span their submitting thread carried; a
    task's scheduler wait is its launch time minus its stage's submission
    time."""
    stage_span: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                span = (e.get("Properties") or {}).get(SPAN_PROPERTY) or "-"
                out[span]["spark.jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_span.setdefault(sid, span)
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
                if span:
                    stage_span[sid] = span
                stage_submit[sid] = e["Stage Info"].get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                c = out[stage_span.get(sid, "-")]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                c["spark.tasks"] += 1
                c["spark.failed_tasks"] += 1 if info.get("Failed") or info.get("Killed") else 0
                c["spark.task_busy_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                wait = info.get("Launch Time", 0) - stage_submit.get(sid, info.get("Launch Time", 0))
                c["spark.scheduler_wait_s"] += max(wait, 0) / 1000.0
                c["spark.shuffle_bytes_written"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                c["spark.input_rows"] += inp.get("Records Read", 0)
    return dict(out)


def sum_counters(per_span: dict[str, dict[str, float]], spans: list[str]) -> dict[str, float]:
    total = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for s in spans:
        for k, v in per_span.get(s, {}).items():
            total[k] += v
    return total
