"""Span tracing for the traced benchmark run.

The traced run wraps every public function and public method of the
package's layer modules (``sources``, ``functions.*``, ``writers``, ``cdc``,
``store``, ``streaming``, ``task``) and records one span per call.  The
wrappers are installed before ``projectone_spark.queries`` is imported, so
the ``from ... import`` bindings inside the query modules pick them up.  A
callee that is not wrapped (a private helper, a generator) counts against
its caller's layer.

Spans are kept in memory and written out when the run ends.  A span's self
time is its duration minus the part of it that its child spans cover, and a
Spark job belongs to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Iterable, Iterator

#: package or module -> layer name; the longest matching prefix wins
LAYERS: dict[str, str] = {
    "projectone_spark.sources": "sources",
    "projectone_spark.functions": "functions.other",
    "projectone_spark.functions.text": "functions.text",
    "projectone_spark.functions.dedup": "functions.dedup",
    "projectone_spark.functions.embeddings": "functions.embeddings",
    "projectone_spark.functions.sampling": "functions.sampling",
    "projectone_spark.writers": "writers",
    "projectone_spark.cdc": "cdc",
    "projectone_spark.store": "store",
    "projectone_spark.streaming": "streaming",
    "projectone_spark.task": "task",
}

#: private methods wrapped by name because a per-layer metric needs them
PRIVATE_WRAPPED = {"projectone_spark.store.TableStore._commit"}


@dataclass
class Span:
    id: int
    op: str
    name: str
    layer: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    parent: int | None
    depth: int
    end: float = 0.0
    error: str | None = None


class Tracer:
    """Records spans for the op currently open.  A span opened on a thread
    with no open span of its own (a DAG worker thread, a stream's
    micro-batch callback) becomes a child of the innermost span open on any
    thread: the call that is waiting for that thread's work."""

    def __init__(self, clock: Callable[[], float] = time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.wrapped: list[str] = []
        self._root: Span | None = None
        self._open_spans: dict[int, Span] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, op: str, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else max(
                self._open_spans.values(), default=None,
                key=lambda s: (s.depth, s.start))
            span = Span(len(self.spans), op, name, layer, self.clock(),
                        parent.id if parent else None,
                        parent.depth + 1 if parent else 0)
            self.spans.append(span)
            self._open_spans[span.id] = span
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = self.clock()
        with self._lock:
            del self._open_spans[span.id]
        self._stack().pop()

    @contextmanager
    def op(self, op: str) -> Iterator[Span]:
        """The root span of one op; every span recorded inside shares its
        op id."""
        root = self._open(op, op, "op")
        self._root = root
        try:
            yield root
        finally:
            self._root = None
            self._close(root)

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        root = self._root
        if root is None:
            yield None
            return
        span = self._open(root.op, name, layer)
        try:
            yield span
        except BaseException as exc:
            span.error = type(exc).__name__
            raise
        finally:
            self._close(span)

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._root is None:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def layer_of(module: str) -> str | None:
    best = None
    for prefix in LAYERS:
        if (module == prefix or module.startswith(prefix + ".")) and \
                (best is None or len(prefix) > len(best)):
            best = prefix
    return LAYERS[best] if best else None


def _import_layer_modules() -> None:
    for pkg_name in LAYERS:
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(getattr(pkg, "__path__", [])):
            importlib.import_module(f"{pkg_name}.{info.name}")


def _wrappable(fn: object) -> bool:
    return inspect.isfunction(fn) and not (
        inspect.isgeneratorfunction(fn) or inspect.iscoroutinefunction(fn)
        or inspect.isasyncgenfunction(fn))


def install(tracer: Tracer) -> list[str]:
    """Wrap the public functions and methods of every layer module and
    rebind every package-level reference to them.  Returns the wrapped
    names.  Must run before any query module is imported."""
    early = sorted(m for m in sys.modules
                   if m.startswith("projectone_spark.queries."))
    if early:
        raise RuntimeError(f"query modules imported before tracing: {early}")
    _import_layer_modules()
    replaced: dict[int, Callable] = {}
    for mod_name, mod in list(sys.modules.items()):
        layer = layer_of(mod_name)
        if layer is None or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if getattr(obj, "__module__", None) != mod_name:
                continue
            if inspect.isclass(obj):
                _wrap_class(tracer, obj, mod_name, layer)
            elif not attr.startswith("_") and _wrappable(obj):
                name = f"{mod_name}.{attr}"
                wrapper = tracer.wrap(obj, name, layer)
                setattr(mod, attr, wrapper)
                replaced[id(obj)] = wrapper
                tracer.wrapped.append(name)
    # `from x import f` done by one package module while importing another
    # bound the original function: point those bindings at the wrapper too
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("projectone_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            wrapper = replaced.get(id(obj))
            if wrapper is not None and obj is not wrapper:
                setattr(mod, attr, wrapper)
    return tracer.wrapped


def _wrap_class(tracer: Tracer, cls: type, mod_name: str, layer: str) -> None:
    for attr, raw in list(vars(cls).items()):
        name = f"{mod_name}.{cls.__qualname__}.{attr}"
        if attr.startswith("_") and name not in PRIVATE_WRAPPED:
            continue
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw
        if not _wrappable(fn):
            continue
        wrapper = tracer.wrap(fn, name, layer)
        setattr(cls, attr, kind(wrapper) if kind else wrapper)
        tracer.wrapped.append(name)


# -- interval maths ----------------------------------------------------------

def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by the intervals, each clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def gap_seconds(intervals: Iterable[tuple[float, float]],
                t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which none of the intervals (Spark jobs)
    was running."""
    return (t1 - t0) - union_length(intervals, t0, t1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover.  Children on
    other threads can overlap each other, so their union is subtracted."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - union_length(children.get(s.id, ()), s.start, s.end)
            for s in spans}


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at time t; among open spans of equal depth on
    concurrent threads, the one that started last."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (
                best is None or (s.depth, s.start) > (best.depth, best.start)):
            best = s
    return best
