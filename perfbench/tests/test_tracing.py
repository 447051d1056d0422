"""Span recorder and the self-time / driver-time analysis."""

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import tracing  # noqa: E402


class _FakeSc:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def _tracer():
    spark = types.SimpleNamespace(sparkContext=_FakeSc())
    return tracing.Tracer(spark, run_tag="t")


def test_wrapped_calls_nest_spans_and_tag_job_groups(monkeypatch):
    mod = types.ModuleType("photon_ml_spark.fake_layer")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    inner.__module__ = outer.__module__ = mod.__name__
    mod.inner, mod.outer = inner, outer
    user = types.ModuleType("photon_ml_spark.fake_user")
    user.outer = outer  # a `from fake_layer import outer` binding
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    monkeypatch.setattr(tracing, "LAYERS", {"fake": [mod.__name__]})

    tr = _tracer()
    tr.install()
    try:
        assert user.outer is mod.outer is not outer
        root = tr.begin("bench.op", "bench")
        assert user.outer(1) == 4
        tr.finish(root)
    finally:
        tr.uninstall()
    assert mod.outer is outer and user.outer is outer
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("bench.op", None), ("fake.outer", 0), ("fake.inner", 1)]
    groups = [v for k, v in tr.sc.props if k == "spark.jobGroup.id"]
    # enter root, outer, inner; leave inner, outer, root; uninstall
    assert groups == ["t:0", "t:1", "t:2", "t:1", "t:0", None, None]


def test_self_time_sums_to_root_and_driver_time_excludes_jobs():
    spans = [
        {"id": 0, "name": "bench.op", "layer": "bench", "parent": None,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "cli.train", "layer": "cli", "parent": 0,
         "start": 0.5, "end": 9.5},
        {"id": 2, "name": "ml.glm.fit", "layer": "ml.glm", "parent": 1,
         "start": 2.0, "end": 6.0},
        {"id": 3, "name": "ml.glm.densify", "layer": "ml.glm", "parent": 2,
         "start": 3.0, "end": 4.0},
    ]
    jobs = {1: [[1.0, 1.5], [7.0, 9.0]], 2: [[4.5, 5.5]]}
    stage = {"task_s": 2.0, "task_cpu_s": 1.0, "shuffle_mb": 0.5,
             "spill_mb": 0.0, "gc_s": 0.1}
    m = tracing.layer_metrics(spans, jobs, {2: stage})
    assert m["cli"]["self_s"] == pytest.approx(9.0 - 4.0)
    assert m["cli"]["driver_s"] == pytest.approx(5.0 - 2.5)
    assert m["cli"]["jobs"] == 2
    # nested spans of one layer: wall counts the outer one only
    assert m["ml.glm"]["calls"] == 2
    assert m["ml.glm"]["wall_s"] == pytest.approx(4.0)
    assert m["ml.glm"]["self_s"] == pytest.approx(4.0)
    assert m["ml.glm"]["driver_s"] == pytest.approx(3.0)
    assert m["ml.glm"]["task_s"] == 2.0
    assert m["bench"]["self_s"] == pytest.approx(1.0)
    total_self = sum(v["self_s"] for v in m.values())
    assert total_self == pytest.approx(spans[0]["end"] - spans[0]["start"])


def test_benchmark_json_declares_the_reported_metrics():
    """BENCHMARK.json's per-layer list is exactly what a traced run
    reports (trace_report.per_layer_names)."""
    import json

    from perfbench.trace_report import per_layer_names

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert declared == per_layer_names()
    assert len(declared) == 10 * len(tracing.LAYERS) + 16
