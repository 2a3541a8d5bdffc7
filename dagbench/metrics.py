"""Metric assembly: end-to-end figures from op timings, per-layer
figures from spans and the Spark event log.

Per-layer values are per-op medians over the traced ops of a run, so
a count that every op repeats exactly (``spark.jobs``) reads exactly.
"""

from __future__ import annotations

import os
import statistics
import threading
from collections import defaultdict

import spans as T

DAG_JOBS = ("esgi_to_raw", "validate_raw_electricity", "electricity_decarb",
            "scope_overview", "source_status", "decarb_path",
            "import_actual_elect", "meter_group_packaging", "transfer_suggest")
SPARK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mix_median(pairs) -> float:
    """The median of each op kind's samples, averaged over the kinds:
    the typical cost of the workload's (equal-share) mix.  ``pairs`` are
    ``(kind, value)``.  A plain median over a mix of kinds falls between
    two of them and jumps when their order swaps from run to run."""
    by: dict = defaultdict(list)
    for k, x in pairs:
        by[k].append(x)
    return sum(median(v) for v in by.values()) / len(by) if by else 0.0


def tail(pairs) -> tuple[float, str, int]:
    """(value, percentile label, sample count) over ``(kind, value)``
    pairs: the highest percentile with at least ten samples above it --
    the 11th largest sample.  With fewer than eleven samples no such
    percentile exists; then the slowest kind's median stands in, which
    is the maximum when every kind has one sample."""
    s = sorted(x for _, x in pairs)
    n = len(s)
    if n == 0:
        return 0.0, "none", 0
    if n < 11:
        by: dict = defaultdict(list)
        for k, x in pairs:
            by[k].append(x)
        return max(median(v) for v in by.values()), "slowest-kind p50", n
    return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), read from /proc.  Each process counts
    its proportional set size (PSS): pages a forked Python worker shares
    with the daemon it was forked from count once, not once per worker,
    so short-lived forks do not read as a gigabyte of new memory."""

    def __init__(self, period: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_kb() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", encoding="ascii",
                          errors="replace") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
        kids: dict[int, list[int]] = defaultdict(list)
        for pid, pp in parent.items():
            kids[pp].append(pid)
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii",
                          errors="replace") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_kb())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self.tree_kb())
        return self.peak_kb / 1024.0


def per_layer(tracer, log: T.EventLog, op_ids: list[int], deps: dict,
              disk: dict, session: dict, overhead: float) -> dict:
    """Every per-layer metric, as the median over ``op_ids`` of its
    per-op value; layers a workload never calls read 0."""
    spans = tracer.spans
    self_t = T.self_times(spans)
    attr = T.attribute(spans, log)
    by_op: dict[int, list] = defaultdict(list)
    for sp in spans:
        if sp.op in op_ids:
            by_op[sp.op].append(sp)

    def parent_layer(sp) -> str:
        return spans[sp.parent].layer if sp.parent is not None else ""

    rows = []
    for i in op_ids:
        ss = by_op[i]
        root = next((sp for sp in ss if sp.layer == "op"), None)
        r: dict[str, float] = defaultdict(float)
        # pipelines.run_all: the dependency chain vs the run's wall
        runs = [sp for sp in ss if sp.name == "run_all.run_all"]
        for run in runs:
            jobs = [sp for sp in ss if sp.layer == "pipelines"
                    and sp.parent == run.sid]
            durs = {sp.name.split(".", 1)[1]: sp.wall for sp in jobs}
            cp = T.critical_path(durs, deps)
            r["run_all.jobs"] += len(jobs)
            r["run_all.critical_path_s"] += cp
            r["run_all.barrier_wait_s"] += run.wall - cp
            r["run_all.concurrency"] += (
                sum(durs.values()) / run.wall / len(runs) if run.wall else 0)
        for sp in ss:
            if sp.layer == "pipelines":
                r[f"pipelines.{sp.name.split('.', 1)[1]}.s"] += self_t[sp.sid]
            elif sp.layer == "writers" and parent_layer(sp) != "writers":
                r["writers.calls"] += 1
                r["writers.s"] += sp.wall
                r["writers.files_written"] += sp.attrs.get("files", 0)
                r["writers.bytes_written"] += sp.attrs.get("bytes", 0)
                r["writers.rows_written"] += sp.attrs.get("rows", 0)
            elif sp.layer == "writers.swap" and \
                    parent_layer(sp) != "writers.swap":
                r["writers.swap_s"] += sp.wall
            elif sp.layer.startswith("versioned.") and \
                    not parent_layer(sp).startswith("versioned."):
                kind = sp.layer.split(".", 1)[1]
                if kind in ("commit", "read"):
                    r[f"versioned.{kind}s"] += 1
                    r[f"versioned.{kind}_s"] += sp.wall
            if sp.layer == "versioned.prune":
                r["versioned.files_considered"] += sp.attrs.get(
                    "considered", 0)
                r["versioned.files_pruned"] += sp.attrs.get("pruned", 0)
            a = attr[sp.sid]
            r["spark.jobs"] += a["jobs"]
            r["spark.stages"] += a["stages"]
            r["spark.tasks"] += a["tasks"]
            for k in SPARK_FIELDS:
                r[f"spark.{k}"] += a[k]
            r["operators.python_bytes"] += a["py_bytes"]
            r["operators.python_rows"] += a["py_rows"]
            r["datasource.actions"] += a["ds_actions"]
        ivals = [iv for sp in ss for iv in attr[sp.sid]["intervals"]]
        ds = [iv for sp in ss for iv in attr[sp.sid]["ds_intervals"]]
        if root is not None:
            r["spark.driver_s"] = root.wall - T.union_length(
                ivals, root.start, root.end)
            r["datasource.s"] = T.union_length(ds, root.start, root.end)
        c = r["versioned.files_considered"]
        r["versioned.prune_ratio"] = r["versioned.files_pruned"] / c if c \
            else 0.0
        rows.append(r)

    out = {n: median([r.get(n, 0.0) for r in rows]) for n in LAYER_UNITS}
    out["session.start_s"] = session["start_s"]
    out["session.warm_s"] = session["warm_s"]
    out["versioned.metadata_files"] = float(disk.get("metadata_files", 0))
    out["versioned.sidecar_bytes"] = float(disk.get("sidecar_bytes", 0))
    out["trace.overhead_s"] = overhead
    return out


LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "run_all.jobs": "count", "run_all.critical_path_s": "s",
    "run_all.barrier_wait_s": "s", "run_all.concurrency": "ratio",
    **{f"pipelines.{j}.s": "s" for j in DAG_JOBS},
    "writers.calls": "count", "writers.s": "s", "writers.swap_s": "s",
    "writers.files_written": "count", "writers.bytes_written": "bytes",
    "writers.rows_written": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.run_ms": "ms", "spark.cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.driver_s": "s",
    "operators.python_bytes": "bytes", "operators.python_rows": "count",
    "versioned.commits": "count", "versioned.commit_s": "s",
    "versioned.reads": "count", "versioned.read_s": "s",
    "versioned.files_considered": "count", "versioned.files_pruned": "count",
    "versioned.prune_ratio": "ratio", "versioned.metadata_files": "count",
    "versioned.sidecar_bytes": "bytes",
    "datasource.actions": "count", "datasource.s": "s",
    "trace.overhead_s": "s",
}
