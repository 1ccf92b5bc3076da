"""Spans around calls into the engine's layers, for the traced run.

A span has a name, a layer, a start, an end and a parent. Spans stay in
memory and are summarized (or written out) when the run ends.

:func:`instrument` wraps every public function of the engine's layer
modules and rebinds each wrapper wherever the original is looked up:
the plans import operators by name at module top, so patching only the
defining module would miss those calls.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from contextlib import contextmanager

PACKAGE = "citibike_analysis_spark"
LAYERS = ("session", "sources", "plans", "operators", "cache", "partitioning", "streaming")


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "children_s", "returned_input")

    def __init__(self, name: str, layer: str, parent: Span | None):
        self.name = name
        self.layer = layer
        self.parent = parent
        self.start = time.time()
        self.end = 0.0
        self.children_s = 0.0
        self.returned_input = False  # the call handed back its first argument unchanged

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.py4j_calls = 0
        self.enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, parent)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
            self.spans.append(s)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer) as s:
                out = fn(*args, **kwargs)
                s.returned_input = bool(args) and out is args[0]
                return out

        return traced

    def count_py4j(self, spark) -> None:
        """Count every command the py4j client sends to the JVM."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += self.enabled
            return send(*args, **kwargs)

        client.send_command = counted

    @staticmethod
    def owner(t: float, spans: list[Span]) -> Span | None:
        """The innermost of ``spans`` whose interval holds time ``t``."""
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def to_json(self) -> list[dict]:
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "parent": index.get(id(s.parent)) if s.parent is not None else None,
            }
            for s in self.spans
        ]


def _layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) < 2 or parts[0] != PACKAGE or parts[1] not in LAYERS:
        return None
    return parts[1]


def instrument(tracer: Tracer) -> int:
    """Wrap the public functions of every layer module; return how many."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if _layer_of(info.name):
            importlib.import_module(info.name)
    modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
    wrapped: dict[int, object] = {}
    for mod in modules:
        layer = _layer_of(mod.__name__)
        if layer is None:
            continue
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            short = mod.__name__.split(".")[-1]
            wrapped[id(fn)] = tracer.wrap(fn, f"{layer}.{short}.{attr}", layer)
    for mod in modules:
        for attr, fn in list(vars(mod).items()):
            if id(fn) in wrapped:
                setattr(mod, attr, wrapped[id(fn)])
    return len(wrapped)
