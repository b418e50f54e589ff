"""In-memory span recorder for the traced benchmark run.

A span is one timed interval: name, layer, start, end, the span that caused
it (``parent``) and the run id shared by every span of one run.  The
benchmark records three kinds:

* ``call`` spans from wrappers it installs around the public functions and
  class methods of the engine's modules (``Tracer.install``);
* ``setup`` and ``step`` spans it opens itself around each set-up phase
  and each timed step;
* ``job`` and ``batch`` spans it adds afterwards from Spark's job records
  and streaming progress events, as children of the step that caused them.

Spans are kept in memory and written out once, at the end of the run.
Self time is a span's duration minus the part of it that its child spans
cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import threading
import time
import types
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    start: float
    end: float
    parent: int | None
    run_id: str
    tags: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


def _resolve(module: str, qualname: str):
    """Unpickle a wrapped callable as the attribute it replaced: a Python
    worker imports the engine fresh, without wrappers."""
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


class _Traced:
    """Callable stand-in for an engine function that records a ``call``
    span around each call.  Binds like a function when stored on a class,
    and pickles by reference, so a UDF closure that names a wrapped helper
    still ships to the Python workers."""

    def __init__(self, tracer: "Tracer", fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._fn = fn
        self._layer = layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self.__qualname__, self._layer, "call"):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (_resolve, (self.__module__, self.__qualname__))


def _wrappable(obj, module_name: str) -> bool:
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not obj.__name__.startswith("_")
        and not inspect.isgeneratorfunction(obj)
        # pandas_udf/udf objects carry their evaluation type; wrapping them
        # would hide it from Spark
        and not hasattr(obj, "evalType")
    )


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.item: int | None = None  # parent for spans opened on other threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str, kind: str, **tags):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.item
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, kind, start, end, parent, self.run_id, tags))

    def add(self, name: str, layer: str, kind: str, start: float, end: float, parent: int | None, **tags) -> int:
        """Record a span measured elsewhere (a Spark job, a microbatch),
        clipped to its parent's interval so spans always nest."""
        with self._lock:
            if parent is not None:
                p = next(s for s in self.spans if s.id == parent)
                start, end = max(start, p.start), min(end, p.end)
                end = max(end, start)
            sid = next(self._ids)
            self.spans.append(Span(sid, name, layer, kind, start, end, parent, self.run_id, tags))
        return sid

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = max(s.duration - covered, 0.0)
        return out

    def install(self, layers: dict[str, str], rebind: list[types.ModuleType]) -> None:
        """Wrap the public functions and class methods of each module named
        in ``layers`` (module -> layer).  Names other modules in ``rebind``
        imported directly (``from m import f``) are re-pointed too."""
        originals: dict[int, object] = {}
        for mod_name, layer in layers.items():
            module = importlib.import_module(mod_name)
            for name, obj in list(vars(module).items()):
                if _wrappable(obj, mod_name):
                    wrapper = _Traced(self, obj, layer)
                    originals[id(obj)] = wrapper
                    self._patch(module, name, wrapper)
                elif inspect.isclass(obj) and obj.__module__ == mod_name and not name.startswith("_"):
                    for attr, fn in list(vars(obj).items()):
                        if _wrappable(fn, mod_name):
                            self._patch(obj, attr, _Traced(self, fn, layer))
        for module in rebind:
            for name, obj in list(vars(module).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and not isinstance(obj, _Traced):
                    self._patch(module, name, wrapper)

    def _patch(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    def dump(self) -> list[dict]:
        with self._lock:
            return [asdict(s) for s in self.spans]
