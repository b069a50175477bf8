"""Spans around calls into ``trembita_spark``'s public functions.

The tracer wraps functions from the outside: it replaces each target in
its module, on the class that defines it, and in every already-imported
``trembita_spark`` module that bound the same function object by name
(``from trembita_spark.io import spread_scan``). Nothing inside the
package is edited. Spans are kept in memory and written out when the
benchmark ends. Each span records its name, start, end, parent span and
the job it ran under; spans opened on another thread (streaming
``foreachBatch`` callbacks) have no parent but keep the job.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time

# the operator modules the workloads' jobs call into
OPERATOR_MODULES = ("dedup", "similarity")
# layer name -> (module, class or None); public functions of the module,
# or public methods of the class, are wrapped.
TARGETS = {
    "io": ("trembita_spark.io", None),
    "query": ("trembita_spark.query", "Query"),
    "pipeline": ("trembita_spark.pipeline", "Pipeline"),
    "streaming": ("trembita_spark.streaming.sources", None),
    **{f"operators.{m}": (f"trembita_spark.operators.{m}", None) for m in OPERATOR_MODULES},
}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.job = None  # (pass index, key) of the running job
        self.spans: list[list] = []  # [name, start, end, parent index, job]
        self.results: dict[int, object] = {}  # span index -> result note
        self._local = threading.local()
        self._notes = {
            "io.load_table": _same_df_as_before(),
            # spread_scan returns its input unchanged unless it repartitions
            "io.spread_scan": lambda args, kwargs, result: result
            is not (args[0] if args else kwargs.get("df")),
        }

    # -- recording --------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        span = [name, time.perf_counter(), None, stack[-1] if stack else None, self.job]
        self.spans.append(span)
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block; does nothing while tracing is off."""
        if not self.enabled:
            yield
            return
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, name: str, fn, note=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(idx)
            if note is not None:
                self.results[idx] = note(args, kwargs, result)
            return result

        return traced

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        originals: dict[int, object] = {}  # id(original) -> wrapper
        for layer, (mod_name, cls_name) in TARGETS.items():
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            for attr, fn in list(vars(owner).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if cls_name is None and fn.__module__ != mod_name:
                    continue  # re-exported from elsewhere
                name = f"{layer}.{attr}"
                wrapper = self.wrap(name, fn, self._notes.get(name))
                setattr(owner, attr, wrapper)
                originals[id(fn)] = (fn, wrapper)
        # rebind names other modules imported before the patch
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("trembita_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])

    # -- reading ----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, default=str)


def _same_df_as_before():
    """load_table note: True when the call returned the DataFrame handle
    an earlier call with the same arguments returned (a cache hit)."""
    seen: dict[tuple, int] = {}

    def note(args, kwargs, result):
        spark, sf_dir, name = (list(args) + [None] * 3)[:3]
        key = (
            id(kwargs.get("spark", spark)),
            kwargs.get("sf_dir", sf_dir),
            kwargs.get("name", name),
        )
        hit = seen.get(key) == id(result)
        seen[key] = id(result)
        return hit

    return note


def self_times(spans, index_filter) -> dict[str, float]:
    """Self time per layer over the spans whose index passes
    ``index_filter``: a span's duration minus its direct children's."""
    child_time = [0.0] * len(spans)
    for i, (_n, start, end, parent, _j) in enumerate(spans):
        if parent is not None and end is not None:
            child_time[parent] += end - start
    out: dict[str, float] = {}
    for i, (name, start, end, _p, _j) in enumerate(spans):
        if end is None or not index_filter(i):
            continue
        layer = layer_of(name)
        out[layer] = out.get(layer, 0.0) + (end - start) - child_time[i]
    return out


def layer_of(name: str) -> str:
    """``operators.dedup.simhash`` -> ``operators``; ``io.load_table`` -> ``io``."""
    return name.split(".", 1)[0]
