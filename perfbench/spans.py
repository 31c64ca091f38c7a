"""Span recorder and outside-in wrapping of the engine's layer functions.

The benchmark does not edit the engine. For a traced pass it replaces each
public DataFrame-level function of the layer modules with a wrapper that
opens a span, in every ``leader_graph_spark`` module namespace that holds a
reference to it, and restores the originals afterwards. Row-level helpers
(no DataFrame or SparkSession in their signature) are left alone: they run
inside Python workers through pickled closures, where a wrapper could not
record anything and would have to be shipped along.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from contextlib import contextmanager

from perfbench.stats import Span

# layer name -> module; ``operators.*`` expands to one layer per module.
LAYER_MODULES = {
    "graph.algorithms": "leader_graph_spark.graph.algorithms",
    "graph.derived": "leader_graph_spark.graph.derived",
    "extract.html": "leader_graph_spark.extract.html",
    "sources.load": "leader_graph_spark.sources.tables",
}
SOURCE_FUNCTIONS = {"load_table"}


def layer_modules() -> dict[str, str]:
    import leader_graph_spark.operators as ops

    out = dict(LAYER_MODULES)
    for m in pkgutil.iter_modules(ops.__path__):
        out[f"operators.{m.name}"] = f"leader_graph_spark.operators.{m.name}"
    return out


def _dataframe_level(fn) -> bool:
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return False
    anns = [str(p.annotation) for p in sig.parameters.values()] + [str(sig.return_annotation)]
    return any("DataFrame" in a or "SparkSession" in a for a in anns)


class Tracer:
    """Keeps spans in memory; ``with tracer.span(...)`` nests by call order."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, layer, time.time(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self) -> int:
        """Wrap every layer function; returns how many functions were wrapped."""
        if self._saved:
            raise RuntimeError("already patched")
        originals: dict[int, object] = {}
        for layer, modname in layer_modules().items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != modname or name.startswith("_"):
                    continue
                if layer == "sources.load" and name not in SOURCE_FUNCTIONS:
                    continue
                if _dataframe_level(fn):
                    originals[id(fn)] = self._wrap(fn, layer)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("leader_graph_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None:
                    self._saved.append((mod, name, obj))
                    setattr(mod, name, wrapped)
        return len(originals)

    def unpatch(self) -> None:
        for mod, name, obj in reversed(self._saved):
            setattr(mod, name, obj)
        self._saved.clear()
