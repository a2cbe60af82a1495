"""Unit tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spans as T  # noqa: E402

BENCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def _span(sid, start, end, parent=None, name="s"):
    return T.Span(sid, name, parent, start, end)


def test_self_time_subtracts_children_once():
    root = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),  # overlaps the first: [1, 4] covered once
        _span(3, 6.0, 7.0, 0),
        _span(4, 9.5, 12.0, 0),  # clipped to the parent's end
    ]
    assert T.self_time(root, kids) == pytest.approx(10 - 3 - 1 - 0.5)
    assert T.self_time(root, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_sets_job_groups():
    class FakeSC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, gid, desc):
            self.calls.append((gid, desc))

        def setLocalProperty(self, key, value):
            self.calls.append((key, value))

    sc = FakeSC()
    tr = T.Tracer(sc)
    with tr.span("pass") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.sid and outer.parent is None
    assert tr.within([outer], "inner") == [inner]
    assert tr.per_root([outer], "inner") == pytest.approx(inner.duration)
    assert sc.calls[0] == ("span-0", "pass")
    assert sc.calls[1] == ("span-1", "inner")
    assert sc.calls[2] == ("span-0", "pass")  # back to the parent group
    assert sc.calls[-1] == ("spark.job.description", None)


def test_wrap_patches_every_reference_and_restores():
    import types

    mod = types.ModuleType("data_quality_checker_spark._perfbench_fake")
    other = types.ModuleType("data_quality_checker_spark._perfbench_other")

    def f(x):
        return x + 1

    mod.f = f
    other.g = f  # a `from mod import f as g` copy
    sys.modules[mod.__name__] = mod
    sys.modules[other.__name__] = other
    try:
        tr = T.Tracer()
        tr.wrap(mod, "f", "layer.f")
        assert mod.f(1) == 2 and other.g(2) == 3
        assert [s.name for s in tr.spans] == ["layer.f", "layer.f"]
        tr.restore()
        assert mod.f is f and other.g is f
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]


@pytest.mark.parametrize(
    "n,label",
    [(1, "max"), (19, "max"), (20, "p50"), (39, "p50"), (40, "p75"),
     (100, "p90"), (200, "p95"), (1000, "p99")],
)
def test_tail_percentile_needs_ten_samples_beyond(n, label):
    got, value, count = T.tail_percentile([float(i) for i in range(1, n + 1)])
    assert (got, count) == (label, n)
    if label != "max":
        p = int(label[1:])
        assert sum(1 for i in range(1, n + 1) if i > value) >= 10
        assert value == pytest.approx(p / 100 * n, abs=1)


def _ev(**kw):
    return json.dumps(kw)


def test_parse_event_log_attributes_tasks_to_span_groups():
    py_scope = json.dumps({"id": "7", "name": "MapInPandas"})
    lines = [
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "span-1"},
            "Stage Infos": [
                {"Stage ID": 0, "RDD Info": [{"Name": "x", "Scope": py_scope}]},
                {"Stage ID": 1, "RDD Info": []},
            ]}),
        _ev(Event="SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 0, "RDD Info": []}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
            "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}}),
        # a job outside any span is ignored
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        _ev(Event="SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 2, "RDD Info": []}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 9_000_000_000}}),
        "",
    ]
    log = T.parse_event_log(lines)
    assert log.job_group == {0: "span-1", 1: ""}
    assert log.stages[0].python and not log.stages[1].python

    tr = T.Tracer()
    with tr.span("pass") as root:
        with tr.span("child"):
            pass
    tot = T.span_totals(log, tr, [root])
    # stage 1 was skipped (never submitted), so only stage 0 counts
    assert (tot.jobs, tot.stages, tot.tasks) == (1, 1, 2)
    assert tot.cpu_s == pytest.approx(3.0)
    assert tot.gc_s == pytest.approx(0.1)
    assert tot.shuffle_write_bytes == 30
    assert tot.spill_bytes == 12
    assert tot.python_stage_s == pytest.approx(2.0)


@pytest.mark.parametrize(
    "name,ok",
    [("wall_s", True), ("dq.psi.s", True), ("pass.gc_s", True),
     ("a-b_c.d", True), ("9lives", True), ("", False), (".x", False),
     ("has space", False), ("x/y", False), ("é", False), ("a" * 65, False),
     ("wall_s\n", False)],
)
def test_metric_name_pattern(name, ok):
    assert T.valid_name(name) is ok


def test_benchmark_json_names_and_units():
    with open(BENCH) as f:
        b = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in b[key]]
    names += [w["name"] for w in b["workloads"]]
    assert all(T.valid_name(n) for n in names)
    assert len(names) == len(set(names))
    for key in ("end_to_end", "per_layer"):
        for m in b[key]:
            assert m["better"] in ("lower", "higher")
            assert T.UNIT_RE.fullmatch(m["unit"])
    assert {m["name"] for m in b["end_to_end"]} >= {"setup_s"}
