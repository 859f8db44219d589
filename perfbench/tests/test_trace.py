import types

import pytest

from perfbench.trace import (Span, Tracer, per_key_seconds, self_times,
                             top_level_seconds)


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("outer", 0.0, 10.0, None, "a"),
        Span("mid", 1.0, 7.0, 0, "a"),
        Span("leaf", 2.0, 5.0, 1, "a"),
        Span("leaf", 8.0, 9.0, 0, "a"),
        Span("outer", 20.0, 21.0, None, "b"),
    ]
    got = self_times(spans)
    assert got["outer"] == pytest.approx((10 - 6 - 1) + 1)
    assert got["mid"] == pytest.approx(6 - 3)
    assert got["leaf"] == pytest.approx(3 + 1)
    # self times of every span add up to the time top-level spans cover
    assert sum(got.values()) == pytest.approx(top_level_seconds(spans))
    assert per_key_seconds(spans) == {"a": 10.0, "b": 1.0}


def test_wrap_records_nested_calls_and_restores():
    mod = types.SimpleNamespace()
    mod.leaf = lambda x: x + 1
    mod.outer = lambda x, flag=False: mod.leaf(x) * 2
    original_leaf, original_outer = mod.leaf, mod.outer
    with Tracer() as tracer:
        tracer.wrap(mod, "leaf")
        tracer.wrap(mod, "outer",
                    lambda x, flag=False: "outer_on" if flag else "outer")
        tracer.key = "doc1"
        assert mod.outer(1) == 4
        assert mod.outer(2, flag=True) == 6
    assert mod.leaf is original_leaf and mod.outer is original_outer
    names = [s.name for s in tracer.spans]
    assert names == ["outer", "leaf", "outer_on", "leaf"]
    assert tracer.spans[1].parent == 0 and tracer.spans[3].parent == 2
    assert all(s.key == "doc1" and s.end >= s.start for s in tracer.spans)


def test_span_closes_on_exception():
    tracer = Tracer()

    def boom():
        raise RuntimeError("x")
    with pytest.raises(RuntimeError):
        tracer.span("boom", boom)
    assert tracer.spans[0].end >= tracer.spans[0].start
    assert tracer._stack == []
