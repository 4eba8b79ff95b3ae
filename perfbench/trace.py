"""In-memory spans for the traced run, plus the Spark event-log reader.

Spans are recorded around calls into the program's layers by wrappers
that live here, not in the program: :meth:`Tracer.patch` swaps a
module global for a timed wrapper and :meth:`Tracer.restore` puts the
original back. While a span is open its name is set as the Spark local
property ``perfbench.span`` (and restored to the parent's on exit), so
every Spark job the span starts carries it into the event log and task
metrics can be attributed to the innermost layer.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    parent: int | None
    job: int
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)  # per current job
        self.job = 0
        self._ids = itertools.count()
        self._stack: list[tuple[int, str]] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_property(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._set_property(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_property(self._stack[-1][1] if self._stack else None)
            self.spans.append(Span(sid, parent, self.job, name, start, end))

    def add(self, name: str, value: float = 1) -> None:
        self.counts[name] += value

    def timed(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper timing it as span ``name``."""
        self.replace(module, attr, self.timed(getattr(module, attr), name))

    def replace(self, module, attr: str, new) -> None:
        """Set ``module.attr`` to ``new`` until :meth:`restore`."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def job_totals(self, job: int) -> tuple[dict[str, float], dict[str, float]]:
        """(inclusive seconds by span name, self seconds by span name)
        for one job. Self time is a span's duration minus its direct
        children's; spans on one thread never overlap their siblings."""
        spans = [s for s in self.spans if s.job == job]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        inclusive: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        for s in spans:
            inclusive[s.name] += s.duration
            own[s.name] += s.duration - child_time[s.id]
        return dict(inclusive), dict(own)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

TASK_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill",
               "input_bytes", "output_bytes")


def read_event_log(directory: str) -> dict:
    """Task metrics from every event log under ``directory``, keyed by
    job group and by span: ``{"group": {g: totals}, "span": {s: totals},
    "binary_scan_input": {g: bytes}}``. ``binary_scan_input`` sums task
    input bytes of stages that scan ``binaryFile`` (the xlsx reader)."""
    stage_job: dict[int, tuple[str | None, str | None]] = {}
    binary_stages: set[int] = set()
    by_group: dict = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    by_span: dict = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    binary_input: dict = defaultdict(int)
    paths = [p for p in glob.glob(f"{directory}/**", recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (props.get("spark.jobGroup.id"), props.get(SPAN_PROPERTY))
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = key
                    for info in ev.get("Stage Infos", []):
                        if any("binaryFile" in json.dumps(r) for r in info.get("RDD Info", [])):
                            binary_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    if not m:
                        continue
                    sid = ev.get("Stage ID")
                    group, span = stage_job.get(sid, (None, None))
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    vals = {
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    }
                    for k, v in vals.items():
                        by_group[group][k] += v
                        by_span[span][k] += v
                    if sid in binary_stages:
                        binary_input[group] += vals["input_bytes"]
    return {"group": dict(by_group), "span": dict(by_span), "binary_scan_input": dict(binary_input)}
