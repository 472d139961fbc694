"""Outside-in spans around the engine's public functions.

The tracer wraps every public function defined in the traced engine
modules and rebinds every engine-module global that still names the
original.  Rebinding by identity reaches the ``from X import f`` copies
(``plans.queries`` imports ``load_table`` and ``local_checkpoint`` that
way) as well as the module attribute, so no call site keeps a stale
unwrapped binding.  A wrapper carries the original's ``__module__`` and
``__qualname__`` and is the module attribute after rebinding, so
cloudpickle still pickles it by reference and Python workers run the
original.

Spans stay in memory: ``(layer, function, parent index, start, end,
context)``, with ``perf_counter`` times.  Each thread keeps its own
stack, so calls made on stream callback threads nest correctly.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass
from types import ModuleType

from metrics import covered

PACKAGE = "bigdatamining_graduate_spark"
#: module prefixes (relative to the package) whose public functions get spans
TRACED = ("operators.", "streaming.jobs", "sources.", "checkpoints")


@dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    start: float
    end: float | None
    context: object


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        #: label attached to every span opened from now on (the runner sets
        #: it to the current pass and query)
        self.context: object = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            span = Span(layer, fn.__name__, stack[-1] if stack else None,
                        time.perf_counter(), None, tracer.context)
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> int:
        """Wrap the traced modules' public functions; returns how many."""
        _import_traced()
        wrappers: dict[int, object] = {}
        for mod in _engine_modules():
            layer = mod.__name__[len(PACKAGE) + 1:]
            if not layer.startswith(TRACED):
                continue
            for name, obj in list(vars(mod).items()):
                if _is_public_function(obj, mod, name):
                    wrappers[id(obj)] = self.wrap(layer, obj)
        rebind(wrappers)
        return len(wrappers)


def _is_public_function(obj, mod: ModuleType, name: str) -> bool:
    return (
        not name.startswith("_")
        and inspect.isfunction(obj)
        and not hasattr(obj, "__perfbench_original__")
        and obj.__module__ == mod.__name__
        and obj.__code__.co_filename == getattr(mod, "__file__", None)
    )


def _import_traced() -> None:
    """Import every traced module, so none first loads after wrapping."""
    root = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(root.__path__, PACKAGE + "."):
        if info.name[len(PACKAGE) + 1:].startswith(TRACED):
            importlib.import_module(info.name)


def _engine_modules() -> list[ModuleType]:
    return [
        m for n, m in sorted(sys.modules.items())
        if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
    ]


def rebind(replacements: dict[int, object]) -> None:
    """Point every engine-module global bound to a replaced function (keyed
    by ``id`` of the original) at its wrapper."""
    for mod in _engine_modules():
        for name, obj in list(vars(mod).items()):
            new = replacements.get(id(obj))
            if new is not None and getattr(new, "__perfbench_original__", None) is obj:
                setattr(mod, name, new)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out = []
    for i, s in enumerate(spans):
        end = _end(s)
        covered_s = covered(
            [(max(spans[c].start, s.start), min(_end(spans[c]), end)) for c in children.get(i, [])]
        )
        out.append(max(0.0, end - s.start - covered_s))
    return out


def _end(s: Span) -> float:
    return s.end if s.end is not None else s.start
