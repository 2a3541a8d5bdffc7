"""Span bookkeeping: self time, critical path, event-log attribution."""

from __future__ import annotations

import json
import threading

import pytest

import metrics
import spans as T


def _span(sid, start, end, parent=None, layer="x", name=None, op=0):
    return T.Span(sid, name or f"s{sid}", layer, start, end, parent, op)


def test_self_time_subtracts_union_of_overlapping_children():
    tree = [
        _span(0, 0.0, 10.0),               # root
        _span(1, 1.0, 4.0, parent=0),      # child a
        _span(2, 3.0, 6.0, parent=0),      # child b overlaps a: union 1..6
        _span(3, 8.0, 12.0, parent=0),     # sticks out: clipped to 8..10
        _span(4, 2.0, 3.0, parent=1),      # grandchild, inside a
    ]
    st = T.self_times(tree)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length_merges_and_clips():
    assert T.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert T.union_length([(0, 10)], 2, 4) == pytest.approx(2.0)
    assert T.union_length([]) == 0.0


def test_critical_path_follows_the_longest_chain():
    durs = {"a": 2.0, "b": 5.0, "c": 1.0, "d": 1.0}
    deps = {"c": ["a", "b"], "d": ["a"]}
    assert T.critical_path(durs, deps) == pytest.approx(6.0)


def test_tail_reports_the_11th_largest_or_the_slowest_kind():
    # one sample per kind: the slowest kind's median is the maximum
    assert metrics.tail([(0, 3.0), (1, 1.0), (2, 2.0)]) == (
        3.0, "slowest-kind p50", 3)
    assert metrics.tail([(0, 1.0), (0, 9.0), (1, 4.0), (1, 4.5)]) == (
        5.0, "slowest-kind p50", 4)
    xs = [(i % 4, float(i)) for i in range(1, 21)]
    v, pct, n = metrics.tail(xs)
    assert (v, n) == (10.0, 20)
    assert sum(x > v for _, x in xs) == 10
    assert pct == "p50.0"


def test_mix_median_weighs_each_kind_once():
    pairs = [(0, 1.0), (0, 1.2), (0, 1.1), (1, 3.0), (1, 5.0)]
    assert metrics.mix_median(pairs) == pytest.approx((1.1 + 4.0) / 2)
    assert metrics.mix_median([]) == 0.0


def test_tracer_nests_spans_and_worker_threads_parent_to_main():
    tr = T.Tracer()
    tr.op = 3

    class Obj:
        def f(self, x):
            return x + 1

    o = Obj()
    tr.wrap(o, "f", "obj.f", "obj")
    with tr.span("op", "op") as root:
        assert o.f(1) == 2
        t = threading.Thread(target=o.f, args=(5,))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    tr.restore()
    assert o.f(1) == 2 and len(tr.spans) == 3
    assert [sp.parent for sp in tr.spans] == [None, root.sid, root.sid]
    assert all(sp.op == 3 and sp.end >= sp.start for sp in tr.spans)
    tr.enabled = False
    with tr.span("off", "op") as sp:
        assert sp is None
    assert len(tr.spans) == 3


def _write_log(path, events):
    with open(path, "w", encoding="utf-8") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_folds_onto_span_job_groups(tmp_path):
    g = {"spark.jobGroup.id": "span-1", "spark.sql.execution.id": "0"}
    plan = {"nodeName": "WholeStageCodegen", "simpleString": "",
            "metrics": [], "children": [
                {"nodeName": "ArrowEvalPython", "simpleString": "",
                 "children": [], "metrics": [
                     {"name": T.PY_SENT, "accumulatorId": 11},
                     {"name": T.PY_RETURNED, "accumulatorId": 12},
                     {"name": T.ROWS, "accumulatorId": 13}]},
                {"nodeName": "BatchScan versioned_table",
                 "simpleString": "BatchScan versioned_table[k] (Python)",
                 "children": [], "metrics": []}]}
    task = {"Executor Run Time": 40, "Executor CPU Time": 20_000_000,
            "JVM GC Time": 3, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Input Metrics": {"Bytes Read": 1000}}
    acc = [{"ID": 11, "Update": "300"}, {"ID": 12, "Update": 200},
           {"ID": 13, "Update": 7}, {"ID": 99, "Update": 5}]
    _write_log(tmp_path / "events_1", [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 1000, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1500, "Stage IDs": [0, 1], "Properties": g},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0}, "Properties": g},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": acc}, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": []}, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2500},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionEnd", "executionId": 0,
         "time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 4000, "Stage IDs": [2], "Properties": {}},
    ])
    log = T.read_event_log(str(tmp_path))
    sp = [_span(0, 0.0, 5.0, layer="op"), _span(1, 1.0, 4.0, parent=0)]
    a = T.attribute(sp, log)
    assert a[0]["jobs"] == 0 and a[1]["jobs"] == 1
    assert a[1]["stages"] == 1          # stage 1 was never submitted
    assert a[1]["tasks"] == 2
    assert a[1]["run_ms"] == 80 and a[1]["cpu_ms"] == pytest.approx(40.0)
    assert a[1]["shuffle_read_bytes"] == 200
    assert a[1]["input_bytes"] == 2000
    assert a[1]["py_bytes"] == 500 and a[1]["py_rows"] == 7
    assert a[1]["ds_actions"] == 1
    assert a[1]["intervals"] == [(1.5, 2.5)]
    assert T.unattributed_jobs(sp, log) == 1   # job 1 starts inside op
