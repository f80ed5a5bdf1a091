"""Span nesting, self-time arithmetic and event-log task metrics."""

from __future__ import annotations

import json

import pytest

from perfbench.trace import Span, Tracer, read_event_log, self_times, wrap_method


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span("op", 0.0, 10.0, None, "o"),
        Span("a", 1.0, 3.0, 0, "o"),
        Span("b", 2.0, 5.0, 0, "o"),  # overlaps a: union 1..5
        Span("c", 8.0, 12.0, 0, "o"),  # clipped to 8..10
        Span("a.child", 1.5, 2.5, 1, "o"),  # a grandchild of op
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own[1] == pytest.approx(2.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_operations():
    t = Tracer()
    t.begin_op("w:0:q")
    with t.span("op"):
        with t.span("build"):
            pass
        with t.span("exec"):
            pass
    t.end_op("w:0:q")
    with t.span("setup"):
        pass
    names = [(s.name, s.parent, s.op) for s in t.spans]
    assert names == [("op", None, "w:0:q"), ("build", 0, "w:0:q"),
                     ("exec", 0, "w:0:q"), ("setup", None, None)]
    assert all(s.end >= s.start for s in t.spans)


def test_wrapped_methods_record_spans_and_keep_behaviour():
    class Layer:
        def call(self, x):
            return x + 1

    t = Tracer()
    wrap_method(t, Layer, "call", "layer.call")
    assert Layer().call(1) == 2
    assert [s.name for s in t.spans] == ["layer.call"]


def test_event_log_sums_task_metrics_of_the_traced_groups(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    task = {"Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
            "JVM GC Time": 100, "Peak Execution Memory": 64,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5,
            "Input Metrics": {"Records Read": 7}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "w:0:q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = read_event_log(str(tmp_path), {"w:0:q"})
    assert out["task_run_s"] == pytest.approx(3.0)
    assert out["task_cpu_s"] == pytest.approx(4.0)
    assert out["gc_s"] == pytest.approx(0.2)
    assert out["shuffle_read_bytes"] == 6 and out["shuffle_write_bytes"] == 6
    assert out["spill_bytes"] == 18 and out["peak_exec_mem_bytes"] == 64
    assert out["input_records"] == 14
    assert out["per_group_input_records"] == {"w:0:q": 14}
