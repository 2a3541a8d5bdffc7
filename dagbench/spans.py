"""Spans around the package's public entry points, and Spark's own
metrics attributed to them.

A :class:`Tracer` wraps functions at runtime (module attributes,
registry entries, ``Job.run`` of a registry) -- nothing in the package
is edited.  Each span records name, layer, start, end, parent span and
op id, and runs under its own Spark job group, so the event log's
job, stage, task and SQL-node metrics can be folded back onto it
after the run (:func:`read_event_log`, :func:`attribute`).  Spans stay
in memory until :meth:`Tracer.dump`.

Self time of a span is its wall time minus the part of its interval
covered by its children (:func:`self_times`); children of one span
may overlap (the DAG runner executes independent jobs concurrently),
so coverage is an interval union, never a plain sum.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)
    prev_group: str | None = None   # job group to restore at the end

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``sc`` (a SparkContext) enables the
    per-span job group; without it spans carry timing only."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = True     # False: wrappers call straight through
        self.spans: list[Span] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    # -- span recording -------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        # a worker thread (the DAG runner's pool) has no span of its
        # own yet: its parent is whatever the main thread has open
        top = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.time(),
                      parent=top.sid if top else None, op=self.op,
                      attrs=attrs)
            self.spans.append(sp)
        if self.sc is not None:
            sp.prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, group_of(sp))
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, sp.prev_group)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """A span around a block; yields None while disabled."""
        if not self.enabled:
            yield None
            return
        sp = self.begin(name, layer, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    # -- wrapping -------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, layer: str,
             after: Callable | None = None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper.  ``after``
        (span, args, kwargs, result) may add attributes once the call
        returns.  :meth:`restore` undoes every wrap."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                sp.attrs["error"] = True
                raise
            finally:
                tracer.end(sp)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "layer": sp.layer,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    "op": sp.op, **sp.attrs}, default=str) + "\n")


# ----------------------------------------------------------------------
# interval arithmetic
# ----------------------------------------------------------------------

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped
    to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> wall time minus the union of its children's
    intervals (clipped to the span)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    return {sp.sid: sp.wall - union_length(
                [(c.start, c.end) for c in kids[sp.sid]], sp.start, sp.end)
            for sp in spans}


def critical_path(durations: dict[str, float],
                  deps: dict[str, list[str]]) -> float:
    """Longest dependency chain: each job's duration plus the longest
    chain among the jobs it depends on."""
    memo: dict[str, float] = {}

    def chain(j: str) -> float:
        if j not in memo:
            memo[j] = durations.get(j, 0.0) + max(
                (chain(d) for d in deps.get(j, ()) if d in durations),
                default=0.0)
        return memo[j]

    return max((chain(j) for j in durations), default=0.0)


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"
TASK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "input_bytes")


@dataclass
class EventLog:
    jobs: dict[int, dict]          # job id -> group, start, end, stages, sql
    stage_group: dict[int, str | None]
    group_task: dict[str | None, dict[str, float]]
    group_py: dict[str | None, dict[str, float]]
    sql: dict[int, dict]           # execution id -> start, end, datasource


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(node: dict, out: list) -> None:
    out.append(node)
    for c in node.get("children", ()):
        _walk_plan(c, out)


def read_event_log(log_dir: str) -> EventLog:
    """Fold a finished event log into per-job-group totals."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    group_task: dict = defaultdict(
        lambda: dict.fromkeys((*TASK_FIELDS, "tasks"), 0.0))
    group_py: dict = defaultdict(lambda: {"bytes": 0.0, "rows": 0.0})
    sql: dict[int, dict] = {}
    py_acc: dict[int, str] = {}  # accumulator id -> 'bytes' | 'rows'
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True) if os.path.isfile(p))

    def plan_metrics(exec_id: int, plan: dict) -> None:
        nodes: list = []
        _walk_plan(plan, nodes)
        for n in nodes:
            name = n.get("nodeName", "")
            if name.startswith("BatchScan") and "(Python)" in n.get(
                    "simpleString", ""):
                sql.setdefault(exec_id, {})["datasource"] = True
            if not any(m in name for m in PY_NODE_MARKERS):
                continue
            for m in n.get("metrics", ()):
                if m["name"] in (PY_SENT, PY_RETURNED):
                    py_acc[m["accumulatorId"]] = "bytes"
                elif m["name"] == ROWS:
                    py_acc[m["accumulatorId"]] = "rows"

    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(ev, dict):
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get(JOB_GROUP),
                        "start": ev.get("Submission Time", 0) / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                        "sql": props.get("spark.sql.execution.id")}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev.get("Completion Time", 0) / 1000.0)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        JOB_GROUP)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    t = group_task[g]
                    t["run_ms"] += _num(tm.get("Executor Run Time"))
                    t["cpu_ms"] += _num(tm.get("Executor CPU Time")) / 1e6
                    t["gc_ms"] += _num(tm.get("JVM GC Time"))
                    sr = tm.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += (
                        _num(sr.get("Remote Bytes Read"))
                        + _num(sr.get("Local Bytes Read")))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += _num(
                        sw.get("Shuffle Bytes Written"))
                    t["spill_bytes"] += _num(tm.get("Disk Bytes Spilled"))
                    t["input_bytes"] += _num(
                        (tm.get("Input Metrics") or {}).get("Bytes Read"))
                    t["tasks"] += 1
                    for acc in (ev.get("Task Info") or {}).get(
                            "Accumulables", ()):
                        k = py_acc.get(acc.get("ID"))
                        if k:
                            group_py[g][k] += _num(acc.get("Update"))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    e = sql.setdefault(ev["executionId"], {})
                    e["start"] = ev.get("time", 0) / 1000.0
                    plan_metrics(ev["executionId"], ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev["executionId"], ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    sql.setdefault(ev["executionId"], {})["end"] = (
                        ev.get("time", 0) / 1000.0)
    return EventLog(jobs, stage_group, dict(group_task), dict(group_py), sql)


def group_of(sp: Span) -> str:
    return f"span-{sp.sid}"


def attribute(spans: list[Span], log: EventLog) -> dict[int, dict]:
    """span id -> Spark metrics of the jobs run under that span's own
    job group (not its children's): jobs, stages, tasks, the task
    totals, Python-worker bytes/rows, job intervals and datasource
    SQL executions."""
    by_group: dict[str, int] = {group_of(sp): sp.sid for sp in spans}
    out: dict[int, dict] = {sp.sid: {"jobs": 0, "stages": set(),
                                     "intervals": [], "ds_actions": 0,
                                     "ds_intervals": [],
                                     **dict.fromkeys(TASK_FIELDS, 0.0),
                                     "tasks": 0.0, "py_bytes": 0.0,
                                     "py_rows": 0.0}
                            for sp in spans}
    seen_sql: set = set()
    for job in log.jobs.values():
        sid = by_group.get(job["group"])
        if sid is None:
            continue
        o = out[sid]
        o["jobs"] += 1
        o["stages"].update(s for s in job["stages"]
                           if log.stage_group.get(s) == job["group"])
        o["intervals"].append((job["start"], job["end"] or job["start"]))
        ex = job["sql"]
        if ex is not None:
            e = log.sql.get(int(ex), {})
            if e.get("datasource") and (sid, ex) not in seen_sql:
                seen_sql.add((sid, ex))
                o["ds_actions"] += 1
                o["ds_intervals"].append((e.get("start", job["start"]),
                                          e.get("end", job["end"]) or 0.0))
    for g, t in log.group_task.items():
        sid = by_group.get(g)
        if sid is None:
            continue
        for k, v in t.items():
            out[sid][k] += v
    for g, p in log.group_py.items():
        sid = by_group.get(g)
        if sid is not None:
            out[sid]["py_bytes"] += p["bytes"]
            out[sid]["py_rows"] += p["rows"]
    for o in out.values():
        o["stages"] = len(o["stages"])
    return out


def unattributed_jobs(spans: list[Span], log: EventLog) -> int:
    """Jobs started inside a traced op (an ``op``-layer span) that ran
    under no span's job group."""
    groups = {group_of(sp) for sp in spans}
    ops = [(sp.start, sp.end) for sp in spans if sp.layer == "op"]
    return sum(1 for j in log.jobs.values()
               if j["group"] not in groups
               and any(s <= j["start"] <= e for s, e in ops))
