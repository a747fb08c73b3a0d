"""Spans, self-time arithmetic and Spark event-log counters for traced runs.

Spans live in memory (name, start, end, parent, run id) and are written
once, when the run ends.  Spark is lazy, so a layer is measured as a *cut*:
the plan up to that layer is run to the noop sink, and the layer's
marginal cost is its cut's time minus the previous cut's time.

Engine counters come from the Spark event log, grouped by the job group
each cut or phase ran under.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; the caller writes ``spans`` out at exit."""

    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def durations(self, name: str) -> list:
        return [s.duration for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        self.tracer._stack.append(len(self.tracer.spans))
        self.tracer.spans.append(None)  # placeholder keeps ids in start order
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        t = self.tracer
        idx = t._stack.pop()
        parent = t._stack[-1] if t._stack else None
        t.spans[idx] = Span(self.name, self.start, end, parent, t.run_id, idx)
        return False


def self_times(spans: list) -> dict:
    """Per span id: duration minus the part of its interval covered by its
    direct children (overlapping children are merged, not double-counted)."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def marginals(cumulative: list) -> list:
    """[(layer, cumulative seconds)] in plan order → [(layer, marginal)].

    A cut includes every earlier layer, so a layer costs its cut minus the
    previous cut.  The marginals telescope back to the last cut."""
    out, prev = [], 0.0
    for name, t in cumulative:
        out.append((name, t - prev))
        prev = t
    return out


# --- Spark event log ---------------------------------------------------------

_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


def _new_counters() -> dict:
    return {
        "jobs": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "input_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "py_bytes_in": 0,
        "py_bytes_out": 0,
        "reduce_task_ms": {},  # stage id → [durations of tasks that read a shuffle]
    }


def read_event_log(event_dir: str) -> list:
    """Every event of every application log under ``event_dir``: single
    files, or the ``eventlog_v2_*/events_*`` parts of a rolling log."""
    events = []
    paths = glob.glob(os.path.join(event_dir, "*")) + glob.glob(
        os.path.join(event_dir, "eventlog_v2_*", "events_*")
    )
    for path in sorted(paths):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue
    return events


def group_counters(events: list) -> dict:
    """Per job group: job count, executor run/CPU time, input and shuffle
    bytes, Python boundary bytes and per-stage reduce-task durations."""
    stage_group: dict = {}
    groups: dict = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            groups.setdefault(g, _new_counters())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            c = groups[g]
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            c["run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_read_bytes"] += read
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in (_PY_IN, _PY_OUT):
                    key = "py_bytes_in" if name == _PY_IN else "py_bytes_out"
                    c[key] += int(acc.get("Update") or 0)
            if read:
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c["reduce_task_ms"].setdefault(ev.get("Stage ID"), []).append(dur)
    return groups


def task_skew(by_stage: dict) -> float:
    """max/median task time of the longest stage (1.0 = balanced)."""
    stages = [d for d in by_stage.values() if d]
    if not stages:
        return 0.0
    longest = max(stages, key=sum)
    med = statistics.median(longest)
    return max(longest) / med if med > 0 else 0.0


def merge_counters(groups: dict, prefix: str) -> dict:
    """Sum the counters of every group whose name starts with ``prefix``."""
    out = _new_counters()
    for g, c in groups.items():
        if not g.startswith(prefix):
            continue
        for k, v in c.items():
            if isinstance(v, dict):
                for sid, d in v.items():
                    out[k].setdefault((g, sid), []).extend(d)
            else:
                out[k] += v
    return out
