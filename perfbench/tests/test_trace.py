"""Span arithmetic and wrapper installation of ``perfbench.trace``."""

from __future__ import annotations

import pickle
from types import SimpleNamespace

import pytest

from perfbench.eventlog import union_length
from perfbench.trace import Span, Tracer, self_times


def _span(i, parent, start, end, run="r"):
    return Span(i, f"s{i}", "x", run, parent, start, end)


def test_self_time_subtracts_nested_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),
    ]
    assert self_times(spans) == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps span 1 on [4, 6]
        _span(3, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    # covered: [2, 8] + [9, 10] = 7
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_times_sum_to_root_duration():
    spans = [_span(0, None, 0.0, 5.0), _span(1, 0, 0.5, 4.0), _span(2, 1, 1.0, 2.0)]
    assert sum(self_times(spans).values()) == pytest.approx(5.0)


def test_union_length_merges_touching_and_nested_intervals():
    assert union_length([(0, 2), (1, 3), (3, 4), (6, 7), (6.5, 6.8)]) == pytest.approx(5.0)
    assert union_length([]) == 0.0


def test_tracer_nests_spans_under_the_open_one():
    t = Tracer()
    t.run = "a"
    with t.span("outer", "L"):
        with t.span("inner", "L"):
            pass
    with t.span("next", "L"):
        pass
    outer, inner, nxt = t.spans
    assert inner.parent == outer.id and outer.parent is None and nxt.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.run for s in t.spans} == {"a"}


def test_install_wraps_module_and_registry_references_and_uninstall_restores():
    import sensordatapipelines_spark.operators.spatial as spatial
    from sensordatapipelines_spark import registry
    from sensordatapipelines_spark.pipeline import Pipeline

    original = spatial.distance
    registered = registry.get_operation("buffer_aggregate")
    process = Pipeline.__dict__["process"]
    t = Tracer()
    t.install()
    try:
        assert spatial.distance is not original
        assert registry._REGISTRY["buffer_aggregate"] is not registered
        assert Pipeline.__dict__["process"] is not process
        # wrappers pickle as a lookup of the original by module and name,
        # so closures shipped to Python workers never carry the tracer
        fn, args = spatial.distance.__reduce__()
        assert fn is getattr and args == (spatial, "distance")
        spatial.get_crs(SimpleNamespace(schema=SimpleNamespace(fields=[])))
        assert [s.name for s in t.spans] == ["operators.spatial.get_crs"]
        assert t.spans[0].layer == "operators.spatial"
    finally:
        t.uninstall()
    assert spatial.distance is original
    assert registry.get_operation("buffer_aggregate") is registered
    assert Pipeline.__dict__["process"] is process
    assert pickle.loads(pickle.dumps(spatial.distance)) is original


def test_wrapped_method_binds_its_instance():
    from sensordatapipelines_spark.pipeline import Pipeline

    t = Tracer()
    t.install()
    try:
        pipe = Pipeline.from_json('{"pipe": "p", "operations": []}')
        assert isinstance(pipe, Pipeline) and pipe.name == "p"
    finally:
        t.uninstall()
    assert [s.name for s in t.spans][:1] == ["pipeline.from_json"]
