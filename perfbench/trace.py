"""Spans around calls into the engine's layers, recorded from outside it.

``Tracer.install`` replaces the public functions of the engine's layer
modules (``session``, ``runtime``, ``tables``, ``pipeline``, ``registry``,
``streaming``, ``operators.<family>``) with wrappers that open a span per
call; ``uninstall`` puts the originals back. Every reference the package or
``__spark_entry__`` holds to an original (module attributes bound by
``from x import f``, operator-registry entries, ``Pipeline`` methods) is
swapped, so calls resolved at run time and calls bound at import time are
both seen.

While a span is open, the current Spark job tag is ``pb<span id>`` and no
other ``pb`` tag, so every Spark job belongs to exactly the innermost span
that started it. Streaming queries inherit the tags of the thread that
starts them, which job groups would not give (streaming overwrites them).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "sensordatapipelines_spark"
ENTRY = "__spark_entry__"

# operator families reported per layer; other operator modules stay unwrapped
FAMILIES = (
    "spatial",
    "temporal",
    "aggregates",
    "interpolate",
    "text",
    "dedup",
    "similarity",
    "graph",
    "sketches",
    "joins",
    "utility",
    "geohash",
)

# module -> layer name; functions defined in the module are wrapped
LAYER_MODULES = {
    f"{PKG}.session": "session",
    f"{PKG}.runtime": "runtime",
    f"{PKG}.tables": "tables",
    f"{PKG}.registry": "registry",
    f"{PKG}.streaming.interval_agg": "streaming",
    f"{PKG}.streaming.stateful": "streaming",
    **{f"{PKG}.operators.{f}": f"operators.{f}" for f in FAMILIES},
}
PIPELINE_METHODS = ("process", "process_generator", "from_json", "from_dict")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run: str
    parent: int | None
    start: float
    end: float | None = None


def tag_of(span_id: int) -> str:
    return f"pb{span_id}"


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover.

    Children may overlap each other (a span started on another thread); the
    covered part is the union of their intervals clipped to the parent.
    """
    spans = list(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class _Traced:
    """A function replaced by a span-recording call.

    Pickles as a by-name lookup of the original in its module, so a closure
    shipped to Python workers that refers to a wrapped function resolves it
    there to the unwrapped original.
    """

    def __init__(self, tracer: Tracer, fn: Callable, name: str, layer: str) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):  # bind like a plain function
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    """In-memory span recorder; spans are written out by the caller."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run = "-"
        self._stack: list[Span] = []
        self._restore: list[Callable[[], None]] = []

    # -- spans -------------------------------------------------------------
    def _retag(self, old: Span | None, new: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if old is not None:
            sc.removeJobTag(tag_of(old.id))
        if new is not None:
            sc.addJobTag(tag_of(new.id))

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.run,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._retag(parent, s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self._retag(s, parent)

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        return _Traced(self, fn, name, layer)

    # -- installing wrappers -------------------------------------------------
    def install(self, extra: dict[str, tuple[str, str]] | None = None) -> None:
        """Wrap every layer function; ``extra`` maps ``__spark_entry__``
        attribute names to (span name, layer) for harness-visible helpers."""
        if self._restore:
            raise RuntimeError("tracer already installed")
        for mod_name in LAYER_MODULES:  # some are imported lazily by the engine
            importlib.import_module(mod_name)
        swaps: dict[int, Callable] = {}
        for mod_name, layer in LAYER_MODULES.items():
            mod = sys.modules.get(mod_name)
            if mod is None:
                continue
            for attr, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod_name
                    and not attr.startswith("_")
                ):
                    swaps[id(obj)] = self.wrap(obj, f"{layer}.{attr}", layer)
        entry = sys.modules.get(ENTRY)
        for attr, (name, layer) in (extra or {}).items():
            obj = getattr(entry, attr)
            swaps[id(obj)] = self.wrap(obj, name, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == ENTRY or mod_name.startswith(PKG)):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in swaps:
                    self._swap_attr(mod, attr, obj, swaps[id(obj)])
        registry = sys.modules[f"{PKG}.registry"]._REGISTRY
        for key, obj in list(registry.items()):
            if id(obj) in swaps:
                registry[key] = swaps[id(obj)]
                self._restore.append(functools.partial(registry.__setitem__, key, obj))
        pipeline_cls = sys.modules[f"{PKG}.pipeline"].Pipeline
        for meth in PIPELINE_METHODS:
            raw = pipeline_cls.__dict__[meth]
            name = f"pipeline.{meth}"
            if isinstance(raw, classmethod):
                new = classmethod(self.wrap(raw.__func__, name, "pipeline"))
            else:
                new = self.wrap(raw, name, "pipeline")
            self._swap_attr(pipeline_cls, meth, raw, new)

    def _swap_attr(self, owner, attr: str, old, new) -> None:
        setattr(owner, attr, new)
        self._restore.append(functools.partial(setattr, owner, attr, old))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
