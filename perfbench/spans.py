"""Span tracer and layer shim for the traced benchmark run.

A span records one call into a layer: its layer name, start, end,
parent span and the id of the query (trace) it belongs to.  Self time is
a span's duration minus the part of it its children cover, where
overlapping children (threads) count once.

``install`` wraps the public functions of each layer module and rebinds
every reference to them in all loaded ``emiproc_spark.*`` namespaces:
many modules bind names with ``from … import`` at import time, so
patching only the defining module would miss those call sites.  It also
patches ``DataFrameReader.parquet`` once, which covers every table read.
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
from dataclasses import dataclass

# layer -> (module, function names or None for every public function)
LAYERS: dict[str, list[tuple[str, tuple[str, ...] | None]]] = {
    "fixtures.load": [("emiproc_spark.fixtures", ("load",))],
    "sources": [("emiproc_spark.sources", None)],
    "exports": [("emiproc_spark.exports", None)],
    "operators.cluster": [("emiproc_spark.operators.cluster", ("connected_components",))],
    "operators.similarity": [("emiproc_spark.operators.similarity", None)],
    "operators.regrid": [("emiproc_spark.operators.regrid", None)],
    "plans.cache": [("emiproc_spark.plans.cache", ("cached_table",))],
}
READ_LAYER = "fixtures.read"


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: int | None
    trace: str


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children, clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        out.append((s.end - s.start) - union_length(kids))
    return out


def innermost(spans: list[Span], t: float, trace: str) -> int | None:
    """Index of the deepest span of ``trace`` open at time ``t``."""
    best = None
    for i, s in enumerate(spans):
        if s.trace == trace and s.start <= t <= s.end:
            if best is None or s.start >= spans[best].start:
                best = i
    return best


class Tracer:
    """Collects spans.  Threads a query starts have no open span of
    their own, so their spans hang off the current phase span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, int] = {}
        self.trace = ""
        self._phase: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    @contextmanager
    def span(self, layer: str, phase: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._phase
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(layer, time.time(), float("nan"), parent, self.trace))
        stack.append(idx)
        if phase:
            self._phase = idx
        try:
            yield idx
        finally:
            stack.pop()
            if phase:
                self._phase = None
            self.spans[idx].end = time.time()

    def wrap(self, layer: str, fn):
        """``fn`` traced as ``layer``; a call nested in a span of the
        same layer stays part of the outer span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            if stack and self.spans[stack[-1]].layer == layer:
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped_layer__ = layer
        return traced


def _modules(prefix: str):
    mod = importlib.import_module(prefix)
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, prefix + "."):
            yield importlib.import_module(info.name)


def _layer_functions():
    """(layer, module, name, function) for every function a layer wraps."""
    for layer, targets in LAYERS.items():
        for prefix, names in targets:
            for mod in _modules(prefix):
                for name, fn in list(vars(mod).items()):
                    if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                        continue
                    if names is None and (name.startswith("_") or inspect.isgeneratorfunction(fn)):
                        continue
                    if names is not None and name not in names:
                        continue
                    yield layer, fn


def _counting_cached_table(tracer: Tracer, fn):
    """plans.cache.cached_table that also counts how often it builds."""

    @functools.wraps(fn)
    def cached_table(spark, cache_dir, name, key, build):
        def counted_build():
            tracer.count("plans.cache.builds")
            return build()

        return fn(spark, cache_dir, name, key, counted_build)

    return cached_table


def install(tracer: Tracer) -> int:
    """Wrap every layer function and rebind it everywhere it is bound.
    Returns the number of rebound names."""
    from pyspark.sql.readwriter import DataFrameReader

    importlib.import_module("emiproc_spark.driver_queries")
    wrapped: dict[int, object] = {}
    for layer, fn in _layer_functions():
        if id(fn) in wrapped:
            continue
        inner = _counting_cached_table(tracer, fn) if layer == "plans.cache" else fn
        wrapped[id(fn)] = tracer.wrap(layer, inner)
    rebound = 0
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("emiproc_spark") or mod is None:
            continue
        for name, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None:
                setattr(mod, name, w)
                rebound += 1
    if not hasattr(DataFrameReader.parquet, "__wrapped_layer__"):
        DataFrameReader.parquet = tracer.wrap(READ_LAYER, DataFrameReader.parquet)
    return rebound
