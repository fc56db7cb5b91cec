"""Spans recorded from the benchmark's side of each module boundary,
and the Spark-wide numbers parsed from an event log.

A span is (name, start, end, parent, trace id); one trace id per unit
of work. Spans stay in memory and are written out once, when the run
ends. With tracing off, ``span`` is a no-op context manager, so the
untraced run executes the same benchmark code without the records.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str, trace_ids: set[str]) -> list[float]:
        """Total duration per trace of every span called ``name``."""
        per: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.trace_id in trace_ids:
                per[s.trace_id] = per.get(s.trace_id, 0.0) + s.duration
        return [per[t] for t in sorted(per)]

    def self_times(self, name: str, trace_ids: set[str]) -> list[float]:
        per: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.name == name and s.trace_id in trace_ids:
                kids = [c for c in self.spans if c.parent == i]
                per[s.trace_id] = per.get(s.trace_id, 0.0) + self_time(s, kids)
        return [per[t] for t in sorted(per)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- Spark event log -------------------------------------------------------


def _load_events(path: str) -> list[dict]:
    """Event-log loader shared with BENCH/analyze_eventlog.py."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "analyze_eventlog", os.path.join(root, "BENCH", "analyze_eventlog.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.load(path)


def session_started(path: str) -> float:
    """When the Spark session of an event log was up, in seconds since
    the epoch: the latest timestamp posted before the first job (the
    driver's executor and block manager registering, the application
    start)."""
    last = 0.0
    for e in _load_events(path):
        if e.get("Event") == "SparkListenerJobStart":
            break
        last = max(last, e.get("Timestamp", 0) / 1e3)
    return last


def eventlog_by_group(path: str, groups: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Spark-wide numbers per job group (one group per traced unit).

    ``groups`` maps job-group id -> the unit's (start, end) wall clock
    in seconds since the epoch; the driver gap is the part of that
    interval no job of the group covers."""
    events = _load_events(path)
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, dict[int, list[float]]] = {g: {} for g in groups}
    out = {
        g: {
            "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_read_bytes": 0.0, "spill_bytes": 0.0, "fetch_wait_s": 0.0,
        }
        for g in groups
    }
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            # a unit may label its jobs "<unit>:<part>"
            g = ((e.get("Properties") or {}).get("spark.jobGroup.id") or "").split(":")[0]
            if g in groups:
                jid = e["Job ID"]
                job_group[jid] = g
                job_span[jid] = [e["Submission Time"] / 1e3, e["Submission Time"] / 1e3]
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = g
        elif kind == "SparkListenerJobEnd" and e.get("Job ID") in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_group:
            g = stage_group[e["Stage ID"]]
            ti, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            wall = ((ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0)) / 1e3
            tasks[g].setdefault(e["Stage ID"], []).append(wall)
            sw, sr = tm.get("Shuffle Write Metrics") or {}, tm.get("Shuffle Read Metrics") or {}
            m = out[g]
            m["task_s"] += wall
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    for g, (lo, hi) in groups.items():
        busy = covered([tuple(job_span[j]) for j, jg in job_group.items() if jg == g], lo, hi)
        m = out[g]
        m["driver_gap_s"] = (hi - lo) - busy
        m["eff_parallelism"] = m["task_s"] / busy if busy > 0 else 0.0
        ratios = [
            max(w) / statistics.median(w)
            for w in tasks[g].values()
            if len(w) >= 4 and statistics.median(w) > 0
        ]
        m["max_task_ratio"] = max(ratios, default=1.0)
    return out
