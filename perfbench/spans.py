"""Span recorder and Spark event-log miner.

A span wraps one call into a layer's public function, from the
benchmark's side: name, start, end, parent and op id. While a span is
open its id is set as the Spark local property ``perfbench.span`` on
the calling thread, so every job the call submits carries it in the
event log's ``Properties``. Jobs are attributed by that property, not
by the job description: Spark's parallel file listing (HadoopFSUtils)
overwrites the description with "Listing leaf files and directories
...", and those listing jobs are exactly the ones a description-keyed
attribution loses.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

from statistics import median

SPAN_PROPERTY = "perfbench.span"
LISTING_PREFIX = "Listing leaf files and directories"

#: Per-span counters, in report order.
COUNTERS = (
    "calls",
    "busy_s",
    "p50_ms",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "cpu_s",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "listing_jobs",
)
COUNTER_UNITS = {
    "calls": "count",
    "busy_s": "s",
    "p50_ms": "ms",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
    "listing_jobs": "count",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Spans:
    """In-memory span recorder. ``sc`` is the SparkContext whose local
    properties carry the span id; ``None`` records nothing (untraced
    runs pay no per-call cost)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[Span] = []
        self._stack: list[int] = []
        self._next = 1

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if self.sc is None:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )
            self.records.append(Span(sid, name, start, end, parent, op))


@dataclass
class Job:
    span: int | None
    start: float  # epoch seconds
    end: float | None
    listing: bool
    stages: list = field(default_factory=list)


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def read_jobs(paths: list[str]) -> list[Job]:
    """Jobs (with their completed stages' metrics) from Spark event
    logs, each carrying the ``perfbench.span`` property it ran under."""
    jobs: list[Job] = []
    for path in paths:
        by_id: dict[int, Job] = {}
        stage_span: dict[int, int | None] = {}
        stage_metrics: list[tuple[int, dict]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    desc = props.get("spark.job.description") or ""
                    by_id[ev["Job ID"]] = Job(
                        span=int(sid) if sid else None,
                        start=ev["Submission Time"] / 1000.0,
                        end=None,
                        listing=desc.startswith(LISTING_PREFIX),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = by_id.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    stage_span[ev["Stage Info"]["Stage ID"]] = int(sid) if sid else None
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = _acc(info)
                    m["tasks"] = float(info.get("Number of Tasks", 0))
                    stage_metrics.append((info["Stage ID"], m))
        jobs.extend(by_id.values())
        # a completed stage belongs to the span it was submitted under;
        # hang it on a job of that span so per-span sums see it
        first_job: dict[int | None, Job] = {}
        for j in by_id.values():
            first_job.setdefault(j.span, j)
        for stage_id, m in stage_metrics:
            owner = first_job.get(stage_span.get(stage_id))
            if owner is not None:
                owner.stages.append(m)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def mine(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per-span-name counters (``COUNTERS``) plus ``self_s``. Work
    counters count the jobs a span submitted itself (jobs carry the
    innermost open span); ``driver_s`` is the span's time with no job of
    the span or of any span under it running."""
    by_span: dict[int, list[Job]] = {}
    for j in jobs:
        if j.span is not None:
            by_span.setdefault(j.span, []).append(j)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree_jobs(sid: int) -> list[Job]:
        out = list(by_span.get(sid, []))
        for k in kids.get(sid, []):
            out += subtree_jobs(k)
        return out

    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    durations: dict[str, list[float]] = {}
    for s in spans:
        c = out.setdefault(s.name, {k: 0.0 for k in COUNTERS} | {"self_s": 0.0})
        dur = s.end - s.start
        durations.setdefault(s.name, []).append(dur)
        own = by_span.get(s.id, [])
        c["calls"] += 1
        c["busy_s"] += dur
        c["self_s"] += selfs[s.id]
        c["driver_s"] += dur - _covered(
            [(j.start, j.end if j.end is not None else s.end) for j in subtree_jobs(s.id)],
            s.start,
            s.end,
        )
        c["jobs"] += len(own)
        c["listing_jobs"] += sum(1 for j in own if j.listing)
        for j in own:
            for m in j.stages:
                c["stages"] += 1
                c["tasks"] += m.get("tasks", 0.0)
                c["task_s"] += m.get("internal.metrics.executorRunTime", 0.0) / 1e3
                c["cpu_s"] += m.get("internal.metrics.executorCpuTime", 0.0) / 1e9
                c["shuffle_write_bytes"] += m.get(
                    "internal.metrics.shuffle.write.bytesWritten", 0.0
                )
                c["input_bytes"] += m.get("internal.metrics.input.bytesRead", 0.0)
                c["output_bytes"] += m.get("internal.metrics.output.bytesWritten", 0.0)
    for name, ds in durations.items():
        out[name]["p50_ms"] = median(ds) * 1e3
    return out


def event_logs(log_dir: str) -> list[str]:
    """Finished event-log files in ``log_dir`` (in-progress ones are
    still being written and are skipped)."""
    return sorted(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    )
