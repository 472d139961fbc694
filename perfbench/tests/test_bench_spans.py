import sys
import types

import pytest

import spans
from spans import Span, Tracer, self_times


def _span(parent, start, end, layer="operators.graph"):
    return Span(layer, "f", parent, start, end, ("1", "q"))


def test_self_time_subtracts_children_once():
    s = [
        _span(None, 0.0, 10.0),  # root
        _span(0, 1.0, 4.0),      # child
        _span(1, 2.0, 3.0),      # grandchild: only reduces its parent
        _span(0, 3.5, 6.0),      # overlaps the first child by 0.5
        _span(0, 9.0, 12.0),     # runs past the root's end: clipped to 1.0
    ]
    assert self_times(s) == pytest.approx([10 - 6.0, 3 - 1, 1, 2.5, 3])


def test_tracer_nests_and_rebinds_from_imports(monkeypatch):
    monkeypatch.setattr(spans, "PACKAGE", "toypkg")
    pkg = types.ModuleType("toypkg")
    ops = types.ModuleType("toypkg.operators.toy")
    ops.__file__ = __file__
    user = types.ModuleType("toypkg.plans.user")

    def inner():
        return 1

    def outer():
        return ops.inner() + 1

    for fn in (inner, outer):
        fn.__module__ = ops.__name__
        setattr(ops, fn.__name__, fn)
    user.inner = inner  # a `from ..operators.toy import inner` binding
    for m in (pkg, ops, user):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    monkeypatch.setattr(spans, "_import_traced", lambda: None)

    tracer = Tracer()
    assert tracer.install() == 2
    assert user.inner is ops.inner and user.inner.__perfbench_original__ is inner
    tracer.context = ("1", "q")
    assert ops.outer() == 2 and user.inner() == 1
    names = [(s.name, s.parent, s.context) for s in tracer.spans]
    assert names == [("outer", None, ("1", "q")), ("inner", 0, ("1", "q")),
                     ("inner", None, ("1", "q"))]
