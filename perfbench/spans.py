"""Benchmark-side tracing: in-memory spans around each public engine call,
Spark job tagging, and attribution of Spark task metrics from a local
event log.

A span records (id, name, request, parent, start, end). While a span is
open, every Spark job submitted from this thread carries the job group
``perfbench-<span id>`` and the span's name as its description, so the
event log written by ``spark.eventLog.dir`` can be folded back onto the
span tree after the session stops. The engine itself is not instrumented:
spans sit at the boundary between the benchmark and the engine's public
functions. Tagging costs py4j round trips: a span's clock starts after
its tag is set and stops before its parent's tag is restored, and that
cost (``tag_s``) is left out of the parent's self time too.

With ``enabled=False`` :meth:`Tracer.span` is a no-op, which is how the
end-to-end runs measure.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    request: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    tag_s: float = 0.0  # job tagging on entry and exit, outside start..end

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; ``sc`` (a SparkContext) is used for job tagging."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._next_id = 0  # never reused, so job groups stay unique
        self._next_request = 0

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Span]]:
        """Time ``name`` as a child of the innermost open span; a span
        without a parent starts a new request."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_request += 1
        request = parent.request if parent else self._next_request
        sp = Span(self._next_id, name, request, parent.id if parent else None,
                  0.0, attrs=dict(attrs))
        self._next_id += 1
        self.spans.append(sp)
        self._stack.append(sp)
        tagged = time.perf_counter()
        self._tag(sp)
        sp.start = time.perf_counter()
        sp.tag_s = sp.start - tagged
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)
            sp.tag_s += time.perf_counter() - sp.end

    def _tag(self, sp: Optional[Span]) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", sp.name)
            self.sc.setJobDescription(sp.name)


def self_seconds(spans: List[Span]) -> Dict[int, float]:
    """Span id -> its duration minus the part of it its children cover,
    their job tagging included. Children of one span never overlap (the
    benchmark is one thread), so the covered part is a sum."""
    covered: Dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.seconds + sp.tag_s
    return {sp.id: sp.seconds - covered.get(sp.id, 0.0) for sp in spans}


@dataclass
class SparkWork:
    """Task metrics summed over every Spark job of one span."""

    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    records_in: int = 0
    records_out: int = 0

    def add(self, other: "SparkWork") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse_event_log(log_dir: str) -> Dict[int, SparkWork]:
    """Span id -> :class:`SparkWork`, from every event-log file under
    ``log_dir`` (uncompressed JSON lines, complete once the session has
    stopped; Spark 4 writes one directory per application). Jobs outside
    a benchmark span are ignored."""
    work: Dict[int, SparkWork] = {}
    stage_span: Dict[int, int] = {}

    def span_of(props: dict) -> Optional[int]:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        return None

    # skip the hidden checksum files and the empty application-status marker
    files = sorted(os.path.join(d, f) for d, _sub, fs in os.walk(log_dir) for f in fs
                   if not f.startswith((".", "appstatus")))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        work.setdefault(sid, SparkWork()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    w = work.setdefault(sid, SparkWork())
                    w.tasks += 1
                    w.executor_run_ms += int(tm.get("Executor Run Time", 0))
                    w.spill_bytes += int(tm.get("Memory Bytes Spilled", 0)) + int(
                        tm.get("Disk Bytes Spilled", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    w.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                    sr = tm.get("Shuffle Read Metrics") or {}
                    w.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                        sr.get("Local Bytes Read", 0))
                    w.records_in += int((tm.get("Input Metrics") or {}).get("Records Read", 0))
                    w.records_out += int(
                        (tm.get("Output Metrics") or {}).get("Records Written", 0))
    return work


def write_spans(path: str, spans: List[Span], work: Dict[int, SparkWork]) -> None:
    """One JSON object per span, with its self time and Spark work."""
    selfs = self_seconds(spans)
    with open(path, "w", encoding="utf-8") as fh:
        for sp in spans:
            rec = {
                "id": sp.id, "name": sp.name, "request": sp.request,
                "parent": sp.parent, "start": sp.start, "end": sp.end,
                "self_s": selfs[sp.id], "tag_s": sp.tag_s, **sp.attrs,
            }
            if sp.id in work:
                rec["spark"] = work[sp.id].__dict__
            fh.write(json.dumps(rec) + "\n")


def layer_table(spans: List[Span], work: Dict[int, SparkWork]) -> Dict[str, dict]:
    """Span name -> calls, total and self seconds, Spark work summed."""
    selfs = self_seconds(spans)
    table: Dict[str, dict] = {}
    for sp in spans:
        row = table.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                         "spark": SparkWork()})
        row["calls"] += 1
        row["total_s"] += sp.seconds
        row["self_s"] += selfs[sp.id]
        if sp.id in work:
            row["spark"].add(work[sp.id])
    return table
