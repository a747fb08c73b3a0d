"""Span bookkeeping, self-time and marginal arithmetic, event-log counters."""

from perfbench.harness import high_percentile
from perfbench.trace import (
    Span,
    Tracer,
    group_counters,
    marginals,
    merge_counters,
    self_times,
    task_skew,
)


def _span(i, name, start, end, parent):
    return Span(name, start, end, parent, "r", i)


def test_marginals_telescope_to_the_last_cut():
    cum = [("scan", 0.5), ("records", 2.0), ("explode", 2.25), ("link", 3.0), ("dedup", 4.0)]
    marg = marginals(cum)
    assert marg == [
        ("scan", 0.5),
        ("records", 1.5),
        ("explode", 0.25),
        ("link", 0.75),
        ("dedup", 1.0),
    ]
    assert sum(t for _, t in marg) == cum[-1][1]


def test_self_times_subtract_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0, None),
        _span(1, "write", 1.0, 4.0, 0),
        # overlaps the first child: the union [1, 5] is covered, not 3 + 2
        _span(2, "audit", 3.0, 5.0, 0),
        _span(3, "merge", 6.0, 8.0, 0),
        # a grandchild counts against its parent only
        _span(4, "probe", 6.5, 7.0, 3),
        # a child running past its parent is clipped to the parent
        _span(5, "late", 9.0, 12.0, 0),
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - (4.0 + 2.0 + 1.0)
    assert own[1] == 3.0
    assert own[3] == 2.0 - 0.5
    assert own[4] == 0.5
    assert own[5] == 3.0


def test_tracer_records_parents_in_start_order():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("c"):
            pass
    with tr.span("d"):
        pass
    assert [(s.name, s.id, s.parent) for s in tr.spans] == [
        ("a", 0, None),
        ("b", 1, 0),
        ("c", 2, 0),
        ("d", 3, None),
    ]
    assert all(s.run_id == tr.run_id and s.end >= s.start for s in tr.spans)
    assert len(tr.durations("b")) == 1


def _task(stage, run_ms, read=0, py_in=0, launch=0, finish=10):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": py_in}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "Shuffle Read Metrics": {"Local Bytes Read": read, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        },
    }


def test_group_counters_attribute_tasks_to_job_groups():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "cut.link.0"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "cut.link.1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [4], "Properties": {}},
        _task(1, 1000, py_in=100),
        _task(2, 500, read=64, finish=10),
        _task(2, 500, read=64, finish=30),
        _task(3, 2000),
        _task(4, 9999),  # no job group: ignored
    ]
    groups = group_counters(events)
    assert set(groups) == {"cut.link.0", "cut.link.1"}
    g = groups["cut.link.0"]
    assert g["jobs"] == 1
    assert g["run_s"] == 2.0 and g["cpu_s"] == 2.0
    assert g["shuffle_read_bytes"] == 128 and g["shuffle_write_bytes"] == 21
    assert g["py_bytes_in"] == 100
    assert g["reduce_task_ms"] == {2: [10, 30]}
    both = merge_counters(groups, "cut.link.")
    assert both["jobs"] == 2 and both["run_s"] == 4.0
    assert task_skew({2: [10, 10, 40]}) == 4.0
    assert task_skew({}) == 0.0


def test_high_percentile_leaves_ten_samples_above():
    assert high_percentile([3.0, 1.0, 2.0]) == ("max", 3.0)
    label, value = high_percentile([float(i) for i in range(1, 101)])
    assert label == "p90" and value == 90.0  # 10 samples (91..100) above it
    label, value = high_percentile([float(i) for i in range(1, 21)])
    assert label == "p50" and value == 10.0
