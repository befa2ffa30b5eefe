"""Driver-side spans around the public functions of the engine's layers.

Each public function of a traced module is replaced, in its module and in
every already-imported engine module that bound it with ``from … import``,
by a wrapper that records a span (layer, start, end, parent).  Plan modules
bind operator functions at import time, so :func:`install` must run before
``plans.catalog.load_all()``.

The wrappers keep the wrapped function's ``__module__`` and ``__qualname__``
and are reachable under that name, so cloudpickle still ships such a
function to Python workers by reference; workers import the unwrapped
module and record nothing.  Spans are kept in memory and read once at the
end of the run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time

ENGINE = "aidc_2018_timeseries_spark"

# layer name -> engine module (or package) whose public functions open its spans
LAYER_MODULES = {
    "operators.graph": "operators.graph",
    "operators.bpe": "operators.bpe",
    "operators.similarity": "operators.similarity",
    "operators.dedup": "operators.dedup",
    "operators.text": "operators.text",
    "operators.windowing": "operators.windowing",
    "operators.partitioning": "operators.partitioning",
    "sources.tables": "sources.tables",
    "sinks": "sources.sinks",
    "ml": "ml",
}


class SpanRecorder:
    """In-memory span log for the driver thread.

    A span is ``(layer, start, end, parent_index)`` with monotonic times.
    """

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else -1
            idx = len(self.spans)
            self.spans.append([layer, time.monotonic(), None, parent])
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx][2] = time.monotonic()

        return traced


def _modules(dotted: str) -> list:
    mod = importlib.import_module(f"{ENGINE}.{dotted}")
    mods = [mod]
    if hasattr(mod, "__path__"):  # a package: trace every submodule
        for info in pkgutil.iter_modules(mod.__path__):
            mods.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
    return mods


def install(recorder: SpanRecorder) -> int:
    """Wrap every traced function; return how many were wrapped."""
    replaced: dict[int, object] = {}
    for layer, dotted in LAYER_MODULES.items():
        for mod in _modules(dotted):
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                wrapper = recorder.wrap(layer, fn)
                setattr(mod, name, wrapper)
                replaced[id(fn)] = wrapper
    # rebind names that engine modules imported before the wrapping
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(ENGINE):
            continue
        for name, value in list(vars(mod).items()):
            wrapper = replaced.get(id(value))
            if wrapper is not None and wrapper is not value:
                setattr(mod, name, wrapper)
    return len(replaced)


def self_times(spans: list[list], start: float, end: float) -> dict[str, list]:
    """Per layer, over the spans that began and ended in [start, end]:
    ``[self seconds, calls]``, self time being span time minus the time
    its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s[3] >= 0:
            child[s[3]] += s[2] - s[1]
    out: dict[str, list] = {}
    for i, s in enumerate(spans):
        if start <= s[1] and s[2] <= end:
            acc = out.setdefault(s[0], [0.0, 0])
            acc[0] += (s[2] - s[1]) - child[i]
            acc[1] += 1
    return out
