"""Spans around calls into the engine's public functions, and the roll-up
of Spark's own event log into per-layer numbers.

Every span records the wall time of one call (the end-to-end metrics are
read from these).  In a traced run a span also sets the Spark job group
to ``<layer>#<span id>`` for the duration of the call, so that each job
the call triggers can be attributed to it afterwards from the event log.
Spans nest per thread; a span opened on another thread (a streaming
``foreachBatch`` body) names its parent explicitly.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    layer: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.layer}#{self.sid}"


class Tracer:
    """Collects spans in memory.  ``sc`` is the SparkContext whose job
    group a traced span sets; ``sc=None`` records timings only."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.gc_pause_s = 0.0
        self._gc_t0 = 0.0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty(GROUP_KEY, None)
            self.sc.setLocalProperty(DESC_KEY, None)
        else:
            self.sc.setJobGroup(s.group, s.layer)

    @contextmanager
    def span(self, layer: str, parent: Span | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(layer, len(self.spans),
                     parent.sid if parent is not None else None,
                     time.time(), attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, obj, method: str, layer: str) -> None:
        """Put a span around every call of ``obj.method`` made by the
        engine itself (an instance attribute shadows the class method)."""
        fn = getattr(obj, method)

        def timed(*a, **k):
            with self.span(layer):
                return fn(*a, **k)

        setattr(obj, method, timed)

    def durations(self, layer: str, since: float = 0.0) -> list[float]:
        return [s.dur for s in self.spans
                if s.layer == layer and s.start >= since and s.end]

    # Python GC pauses, summed over the collections between install and
    # remove (``gc.callbacks``); only installed in a traced run.
    def _gc_cb(self, phase, _info):
        if phase == "start":
            self._gc_t0 = time.perf_counter()
        elif self._gc_t0:
            self.gc_pause_s += time.perf_counter() - self._gc_t0
            self._gc_t0 = 0.0

    def gc_watch(self, on: bool) -> None:
        if on and self._gc_cb not in gc.callbacks:
            gc.callbacks.append(self._gc_cb)
        elif not on and self._gc_cb in gc.callbacks:
            gc.callbacks.remove(self._gc_cb)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return {s.sid: s.dur - union_length(kids[s.sid]) for s in spans}


@dataclass
class SparkWork:
    """What Spark did for one job group, from its event log."""
    jobs: int = 0
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)
    tasks: int = 0
    task_s: float = 0.0
    input_bytes: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill_bytes: int = 0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def job_wall_s(self) -> float:
        return union_length(self.job_intervals)

    @property
    def skew(self) -> float:
        """Largest max/median task time over the stages with ≥2 tasks."""
        worst = 0.0
        for ds in self.stage_task_ms.values():
            if len(ds) >= 2:
                med = statistics.median(ds)
                worst = max(worst, max(ds) / med if med > 0 else 1.0)
        return worst

    def add(self, o: "SparkWork") -> None:
        self.jobs += o.jobs
        self.job_intervals += o.job_intervals
        self.tasks += o.tasks
        self.task_s += o.task_s
        self.input_bytes += o.input_bytes
        self.shuffle_read += o.shuffle_read
        self.shuffle_write += o.shuffle_write
        self.spill_bytes += o.spill_bytes
        for k, v in o.stage_task_ms.items():
            self.stage_task_ms[k] += v


OUTSIDE = "(outside window)"


def read_event_log(log_dir: str, window: tuple[float, float]
                   ) -> dict[str | None, SparkWork]:
    """Roll a Spark JSON event log up per job group.  Jobs started outside
    every span are keyed ``None`` when submitted inside ``window`` and
    ``OUTSIDE`` otherwise."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    out: dict[str | None, SparkWork] = defaultdict(SparkWork)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(GROUP_KEY)
                jid = ev["Job ID"]
                job_start[jid] = ev["Submission Time"] / 1000.0
                if g is None and not window[0] <= job_start[jid] <= window[1]:
                    g = OUTSIDE
                job_group[jid] = g
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                out[g].jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    out[job_group[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                if GROUP_KEY in props:
                    stage_group[sid] = props[GROUP_KEY]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                w = out[stage_group.get(ev["Stage ID"])]
                w.tasks += 1
                w.task_s += m.get("Executor Run Time", 0) / 1000.0
                w.input_bytes += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                w.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0))
                w.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                w.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
                w.stage_task_ms[ev["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"])
    return dict(out)


def layer_table(spans: list[Span], work: dict[str | None, SparkWork],
                window: tuple[float, float]) -> list[dict]:
    """One row per layer (spans inside ``window``) plus ``unattributed``:
    window wall not covered by any top-level span, and Spark work of jobs
    started outside every span."""
    lo, hi = window
    inside = [s for s in spans if s.start >= lo and s.end and s.end <= hi]
    selfs = self_times(inside)
    ids = {s.sid for s in inside}
    rows: dict[str, dict] = {}
    for s in inside:
        r = rows.setdefault(s.layer, {"layer": s.layer, "calls": 0,
                                      "wall_s": 0.0, "self_s": 0.0,
                                      "spark": SparkWork()})
        r["calls"] += 1
        r["wall_s"] += s.dur
        r["self_s"] += selfs[s.sid]
        if s.group in work:
            r["spark"].add(work[s.group])
    tops = [(s.start, s.end) for s in inside
            if s.parent is None or s.parent not in ids]
    un = {"layer": "unattributed", "calls": 0,
          "wall_s": (hi - lo) - union_length(tops), "spark": SparkWork()}
    un["self_s"] = un["wall_s"]
    if None in work:
        un["spark"].add(work[None])
    return sorted(rows.values(), key=lambda r: -r["self_s"]) + [un]


def format_layer_table(rows: list[dict]) -> str:
    hdr = (f"{'layer':<18}{'calls':>6}{'wall_s':>9}{'self_s':>9}{'jobs':>6}"
           f"{'job_s':>8}{'tasks':>7}{'task_s':>8}{'in_MB':>8}{'shuf_MB':>9}"
           f"{'spill_MB':>9}{'skew':>6}")
    out = [hdr]
    for r in rows:
        w: SparkWork = r["spark"]
        out.append(
            f"{r['layer']:<18}{r['calls']:>6}{r['wall_s']:>9.3f}"
            f"{r['self_s']:>9.3f}{w.jobs:>6}{w.job_wall_s:>8.3f}{w.tasks:>7}"
            f"{w.task_s:>8.3f}{w.input_bytes / 1e6:>8.2f}"
            f"{(w.shuffle_read + w.shuffle_write) / 1e6:>9.2f}"
            f"{w.spill_bytes / 1e6:>9.2f}{w.skew:>6.2f}")
    return "\n".join(out)
