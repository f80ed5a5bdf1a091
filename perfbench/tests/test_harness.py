"""Metric names and units, the p90 sample-support rule, error accounting
and the result line."""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import harness, layers
from perfbench.trace import NullTracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == harness.E2E_UNITS


def test_per_layer_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == layers.UNITS


def test_command_and_workloads_match_the_runner():
    from perfbench import run

    bench = _bench()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS


def test_p90_needs_a_hundred_samples():
    assert harness.samples_beyond(100, 0.9) == 10
    assert harness.supported(100, 0.9)
    assert harness.samples_beyond(99, 0.9) == 9
    assert not harness.supported(99, 0.9)
    assert harness.supported(20, 0.5)
    assert not harness.supported(19, 0.5)


def test_percentile_is_the_harrell_davis_estimate():
    xs = [float(i) for i in range(1, 11)]
    assert harness.percentile(xs, 0.5) == pytest.approx(5.5, abs=1e-6)
    # reference value: the same Beta weights integrated on a 100x finer grid
    assert harness.percentile(xs, 0.9) == pytest.approx(9.4351, abs=1e-3)
    assert harness.percentile([3.0], 0.9) == pytest.approx(3.0)
    assert harness.percentile(xs[::-1], 0.5) == harness.percentile(xs, 0.5)
    # two clusters: the estimate sits between them instead of on one
    two = [1.0] * 10 + [2.0] * 11
    assert 1.0 < harness.percentile(two, 0.5) < 2.0
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)


def test_a_raising_operation_is_counted_and_the_loop_goes_on():
    loop = harness.Loop("w", NullTracer())

    def boom():
        raise KeyError("x")

    op, value = loop.run("bad", boom)
    assert value is None and op.error == "KeyError"
    op2, value2 = loop.run("good", lambda: 42)
    assert value2 == 42 and op2.error is None
    assert [o.op_id for o in loop.failed] == ["w:0:bad"]
    s = harness.summarize(loop, wall_s=1.0, setup_s=1.0, rss_mb=10.0)
    assert not s["correct"]
    assert s["failures"] == [{"workload": "w", "op": "w:0:bad", "error": "KeyError"}]


def test_a_run_is_correct_only_when_no_operation_failed():
    loop = harness.Loop("w", NullTracer())
    loop.run("good", lambda: 1)
    assert harness.summarize(loop, wall_s=1.0, setup_s=1.0, rss_mb=10.0)["correct"]


def test_wrong_outputs_count_as_failures_once():
    loop = harness.Loop("w", NullTracer())
    ops = [loop.run("q", lambda: None)[0] for _ in range(4)]
    loop.mark_wrong(ops[1], "ids differ")
    loop.mark_wrong(ops[1], "second reason")
    s = harness.summarize(loop, wall_s=2.0, setup_s=1.0, rss_mb=10.0)
    assert (s["attempted"], s["failed"], s["error_rate"]) == (4, 1, 0.25)
    assert not s["correct"]
    assert s["failures"] == [{"workload": "w", "op": "w:1:q",
                              "error": "WrongResult: ids differ"}]
    assert s["metrics"]["ops_per_s"] == pytest.approx(3 / 2.0)
    assert s["p90_samples"] == 4 and not s["p90_supported"]


def test_a_dead_jvm_ends_the_run_naming_the_operation():
    class Py4JNetworkError(Exception):
        pass

    loop = harness.Loop("w", NullTracer())

    def die():
        raise Py4JNetworkError("gateway gone")

    with pytest.raises(harness.JvmDied, match="w:0:scan"):
        loop.run("scan", die)
    assert loop.ops[0].error == "Py4JNetworkError"


def test_run_for_runs_at_least_once_and_until_the_time_is_up():
    calls = []
    wall = harness.run_for(0.0, lambda: calls.append(1))
    assert calls == [1] and wall >= 0.0
    calls.clear()
    wall = harness.run_for(0.05, lambda: (calls.append(1), time.sleep(0.01)))
    assert wall >= 0.05 and len(calls) >= 5


def test_result_line_has_exactly_the_contract_keys():
    metrics = {k: 1.5 for k in harness.E2E_UNITS}
    line = json.loads(harness.result_line(True, 3, 0, metrics, harness.E2E_UNITS))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    del metrics["setup_s"]
    with pytest.raises(KeyError, match="setup_s"):
        harness.result_line(True, 3, 0, metrics, harness.E2E_UNITS)
