"""Span tracer for the traced run, plus attribution of Spark task
metrics (read back from Spark's own event log) to the spans.

A span wraps one benchmark call into a layer's public function and is
named ``<layer>.<call>``. While a span is open, every Spark job the
driver thread submits carries the span's id in its job description
(``SparkContext.setJobDescription``), so after the run each task in the
event log can be charged to the innermost span that launched it.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator

DESC_PREFIX = "perfbench-span:"
TASK_FIELDS = ("tasks", "exec_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "sched_wait_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    plan_end: float | None = None  # set when a lazy call has returned its DataFrame
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start

    def mark_planned(self) -> None:
        """Call once the lazy call has returned; the rest of the span is
        materialization (``exec_s``)."""
        self.plan_end = time.perf_counter()


class _NullSpan:
    attrs: dict = {}

    def mark_planned(self) -> None:
        pass


_NULL = _NullSpan()


class Tracer:
    """Records nested spans. A disabled tracer records nothing and
    never touches Spark, so the untraced run pays only a no-op call."""

    def __init__(self, enabled: bool, spark_context=None) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self._sc = spark_context
        self._stack: list[Span] = []

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _describe(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.job.description", None if span is None else f"{DESC_PREFIX}{span.id}")

    @contextmanager
    def span(self, name: str) -> Iterator[Span | _NullSpan]:
        if not self.enabled:
            yield _NULL
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.phase, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._describe(parent)


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of that
    interval covered by its child spans (overlapping children are
    merged, so the covered part never exceeds the span)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.wall - covered
    return out


# ----------------------------------------------------------------------
# Spark event log → per-span task metrics


def event_log_lines(root: str) -> Iterator[str]:
    """Lines of every event log under ``root``, in write order. Covers
    single-file logs and rolling ``eventlog_v2_*`` directories, whose
    ``events_<n>_*`` parts are read in part order."""

    def part(path: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    for dirpath, _dirs, files in sorted(os.walk(root)):
        logs = (os.path.join(dirpath, f) for f in files if not f.startswith((".", "appstatus")))  # skip .crc files
        for path in sorted(logs, key=part):
            with open(path) as f:
                yield from f


def read_event_log(lines: Iterable[str]) -> dict[int, dict[str, float]]:
    """Fold a Spark event log (JSON lines) into task metrics per span
    id: {span_id: {jobs, tasks, exec_cpu_s, gc_s, shuffle_bytes,
    spill_bytes, sched_wait_s}}. A task belongs to the first job that
    lists its stage; the job belongs to the span named in its
    description. ``sched_wait_s`` is the time tasks waited between
    their stage's submission and their own launch."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(DESC_PREFIX):
                job_span[ev["Job ID"]] = int(desc[len(DESC_PREFIX):])
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            if info.get("Submission Time") is not None:
                stage_submit.setdefault(info["Stage ID"], info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    out: dict[int, dict[str, float]] = {}

    def bucket(span_id: int) -> dict[str, float]:
        return out.setdefault(span_id, dict.fromkeys(("jobs",) + TASK_FIELDS, 0.0))

    for span_id in job_span.values():
        bucket(span_id)["jobs"] += 1
    for ev in tasks:
        span_id = job_span.get(stage_job.get(ev["Stage ID"], -1))
        if span_id is None:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        b = bucket(span_id)
        b["tasks"] += 1
        b["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        b["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        submitted = stage_submit.get(ev["Stage ID"])
        if submitted is not None:
            b["sched_wait_s"] += max(0.0, info["Launch Time"] - submitted) / 1e3
    return out


def inclusive(spans: list[Span], own: dict[int, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Task metrics of each span including those of its descendants."""
    keys = ("jobs",) + TASK_FIELDS
    total = {s.id: dict(own.get(s.id) or dict.fromkeys(keys, 0.0)) for s in spans}
    for s in sorted(spans, key=lambda s: -s.id):  # children always have larger ids
        if s.parent is not None:
            for k in keys:
                total[s.parent][k] += total[s.id][k]
    return total


def span_tree(spans: list[Span], own: dict[int, dict[str, float]], phase: str) -> list[dict]:
    """Aggregate spans of one phase by their path of names
    (``engine.curate/functions.apply_ingest_policy``): call count,
    wall, self and plan/exec seconds and self task metrics, summed."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        if s.phase != phase:
            continue
        path, p = [s.name], s.parent
        while p is not None:
            path.append(by_id[p].name)
            p = by_id[p].parent
        key = "/".join(reversed(path))
        r = rows.setdefault(key, {"path": key, "count": 0, "s": 0.0, "self_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, **dict.fromkeys(("jobs",) + TASK_FIELDS, 0.0)})
        r["count"] += 1
        r["s"] += s.wall
        r["self_s"] += selfs[s.id]
        if s.plan_end is not None:
            r["plan_s"] += s.plan_end - s.start
            r["exec_s"] += s.end - s.plan_end
        for k, v in (own.get(s.id) or {}).items():
            r[k] += v
    return sorted(rows.values(), key=lambda r: r["path"])
