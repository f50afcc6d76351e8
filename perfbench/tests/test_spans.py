"""Self time with nested spans, and instrumentation of engine modules."""

import sys
import types

import pytest

from spans import PACKAGE, Instrumentation, Span, Tracer


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_nested_children():
    clock = _Clock()
    tr = Tracer(clock=clock)
    with tr.span("pipeline.sync") as outer:  # 0 .. 10
        clock.t = 1.0
        with tr.span("sources.read"):  # 1 .. 4
            clock.t = 2.0
            with tr.span("catalog.table"):  # 2 .. 3
                clock.t = 3.0
            clock.t = 4.0
        clock.t = 6.0
        with tr.span("sources.sinks.write_raw"):  # 6 .. 9
            clock.t = 9.0
        clock.t = 10.0
    selfs = tr.self_times()
    by_name = {sp.name: sp for sp in tr.spans}
    assert selfs[outer.sid] == pytest.approx(10 - 3 - 3)
    assert selfs[by_name["sources.read"].sid] == pytest.approx(3 - 1)
    assert selfs[by_name["catalog.table"].sid] == pytest.approx(1)
    assert tr.layer_self_ms() == pytest.approx(
        {"pipeline": 4000.0, "sources": 5000.0, "catalog": 1000.0}
    )
    assert sum(selfs.values()) == pytest.approx(10.0)  # self times partition the root


def test_self_time_counts_overlapping_children_once():
    tr = Tracer()
    tr.spans = [
        Span(0, None, "queries.call", 0, 0.0, 10.0),
        Span(1, 0, "catalog.table", 0, 1.0, 5.0),
        Span(2, 0, "catalog.table", 0, 3.0, 7.0),  # overlaps the first child
        Span(3, 0, "catalog.table", 0, 9.0, 12.0),  # runs past its parent
    ]
    assert tr.self_times()[0] == pytest.approx(10 - 6 - 1)


@pytest.fixture
def fake_engine():
    """Two fake engine modules: ``layer_a`` defines functions and
    ``layer_b`` imports one of them by name."""
    a = types.ModuleType(f"{PACKAGE}.layer_a")

    def helper(x):
        return x + 1

    def public(x):
        return helper(x) * 2

    def _private(x):
        return x

    for fn in (helper, public, _private):
        fn.__module__ = a.__name__
        setattr(a, fn.__name__, fn)
    public.__globals__["helper"] = a.helper  # so public() calls through the module
    b = types.ModuleType(f"{PACKAGE}.layer_b")
    b.public = a.public
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    yield a, b
    del sys.modules[a.__name__], sys.modules[b.__name__]


def test_instrumentation_wraps_every_binding_and_undoes(fake_engine):
    a, b = fake_engine
    original = a.public
    tr = Tracer()
    inst = Instrumentation(tr, renames={("layer_b", "public"): "layer_b.entry"})
    inst.install()
    try:
        assert b.public(1) == 4
        assert a.public(1) == 4
        assert a._private is not None and not hasattr(a._private, "__wrapped__")
    finally:
        inst.undo()
    assert a.public is original and b.public is original
    assert [sp.name for sp in tr.spans] == ["layer_b.entry", "layer_a.public"]
    b.public(1)
    assert len(tr.spans) == 2  # nothing recorded after undo
