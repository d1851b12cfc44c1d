"""Spans, Spark job groups and the event-log parser of the traced run.

A traced run records one span per call into a layer (name, layer, start,
end, parent) and sets the Spark job group to the innermost span while it
is open, so every Spark job, stage and task in the event log can be
attributed to the call that caused it.  The spans are recorded from the
benchmark's own files: ``instrument`` wraps public functions of the
program's modules; the program itself is not edited.

An untraced run uses ``NullTracer``: its spans cost one attribute lookup
and set no job group, so the end-to-end metrics are measured without
tracing.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import json
import os
import time

MB = 1024.0 * 1024.0


class Span:
    __slots__ = ("sid", "name", "layer", "t0", "t1", "parent", "attrs")

    def __init__(self, sid, name, layer, t0, parent):
        self.sid = sid
        self.name = name
        self.layer = layer
        self.t0 = t0
        self.t1 = None
        self.parent = parent
        self.attrs = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "layer": self.layer,
            "start": self.t0,
            "end": self.t1,
            "parent": self.parent,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class NullTracer:
    """Tracing off: spans are free and nothing is recorded."""

    enabled = False
    current = None
    trace_s = 0.0

    def span(self, name, layer, **attrs):
        return contextlib.nullcontext()


class Tracer:
    """Keeps every span in memory, in start order (span id == index)."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.trace_s = 0.0  # seconds spent in measurement-only ("trace") spans

    @property
    def current(self):
        return self.stack[-1] if self.stack else None

    def _set_group(self, span):
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"s{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name, layer, **attrs):
        parent = self.current
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent.sid if parent else None)
        s.attrs.update(attrs)
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            self._set_group(self.current)
            if layer == "trace":
                self.trace_s += s.dur


def instrument(tracer, owner, attr, name, layer, on_call=None):
    """Replace ``owner.attr`` with a wrapper that opens a span around
    each call.  ``on_call(span, args, kwargs, result)`` runs after the
    span has closed and may annotate it."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name, layer) as s:
            out = orig(*args, **kwargs)
        if on_call is not None:
            on_call(s, args, kwargs, out)
        return out

    setattr(owner, attr, wrapper)


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans) -> dict[str, float]:
    """Seconds per layer not covered by child spans.  One client thread
    means child spans never overlap, so the covered part is their sum."""
    kids = children(spans)
    out: dict[str, float] = {}
    for s in spans:
        covered = sum(c.dur for c in kids.get(s.sid, ()))
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
    return out


def descendants(spans, roots) -> set[int]:
    kids = children(spans)
    todo = [r.sid for r in roots]
    seen = set()
    while todo:
        sid = todo.pop()
        if sid in seen:
            continue
        seen.add(sid)
        todo.extend(c.sid for c in kids.get(sid, ()))
    return seen


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


class EventLog:
    """Jobs, stages and task metrics of one application, keyed by the job
    group that was set when they ran (``s<span id>``)."""

    def __init__(self, log_dir: str):
        self.jobs = {}  # job id -> {group, start, end, stages}
        self.stage_group = {}  # stage id -> group
        self.stage_tasks = {}  # stage id -> task count
        self.tasks = []  # (group, stage id, metrics dict)
        self.blocks = {}  # RDD block id -> bytes held (memory + disk)
        files = sorted(
            glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        ) or sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        )
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    @staticmethod
    def _group(props):
        return (props or {}).get("spark.jobGroup.id")

    def _event(self, ev):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "group": self._group(ev.get("Properties")),
                "start": ev["Submission Time"],
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            self.stage_group[sid] = self._group(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            self.stage_tasks[sid] = self.stage_tasks.get(sid, 0) + 1
            self.tasks.append(
                (self.stage_group.get(sid), sid, ev.get("Task Metrics") or {}))
        elif kind.endswith("SparkListenerBlockUpdated"):
            info = ev["Block Updated Info"]
            level = info.get("Storage Level") or {}
            held = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
            if not (level.get("Use Memory") or level.get("Use Disk")):
                held = 0
            bid = info["Block ID"]
            if held and bid.startswith("rdd_"):
                self.blocks[bid] = held
            else:
                self.blocks.pop(bid, None)

    def retained_mb(self) -> float:
        return sum(self.blocks.values()) / MB

    def runtime(self, groups: set[str] | None) -> dict[str, float]:
        """Totals over the jobs of ``groups`` (None: every job)."""
        want = (lambda g: True) if groups is None else (lambda g: g in groups)
        jobs = [j for j in self.jobs.values() if want(j["group"])]
        stages = {sid for sid, g in self.stage_group.items() if want(g)}
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
        }
        for g, _sid, m in self.tasks:
            if not want(g):
                continue
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            out["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            out["input_mb"] += inp.get("Bytes Read", 0) / MB
        return out

    def loop_width(self, groups: set[str]) -> float:
        """The most common task count among the multi-task stages of
        ``groups``: in an iterative algorithm these are the supersteps'
        joins over the static edge frame, whose width should be the
        shuffle width.  Ties go to the wider count; 1 if every stage ran
        one task."""
        widths = collections.Counter(
            n for sid, n in self.stage_tasks.items()
            if self.stage_group.get(sid) in groups and n > 1
        )
        if not widths:
            return 1.0
        return float(max(widths.items(), key=lambda kv: (kv[1], kv[0]))[0])


def groups_of(sids) -> set[str]:
    return {f"s{sid}" for sid in sids}
