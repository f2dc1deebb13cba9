"""Spans around calls into the engine's modules, recorded from outside.

:meth:`Tracer.install` replaces every public function of the traced
modules (and the public methods of the classes they define) with a
wrapper that records a span: layer, name, start, end, parent span,
operation id and phase. Every binding of the original in a loaded
``arctic_spark`` module or the driver-contract module is replaced, so
``from x import f`` call sites are traced too.

A wrapper keeps the original's ``__module__`` and ``__qualname__`` and
is the attribute found under that name, so cloudpickle pickles it by
reference: a Python worker that unpickles it gets the original function.

Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import sys
import time
import types

# layer name -> module (or package, meaning every module under it)
LAYERS = {
    "functions.native": "arctic_spark.functions.native",
    "functions.udfs": "arctic_spark.functions.udfs",
    "joins": "arctic_spark.joins",
    "proj": "arctic_spark.proj",
    "geodataframe": "arctic_spark.geodataframe",
    "llm": "arctic_spark.llm",
    "io": "arctic_spark.io",
}


def _layer_modules(target: str):
    mod = importlib.import_module(target)
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, target + "."):
            yield importlib.import_module(info.name)


def _owned_callables(mod):
    """(container, name, fn) for each public function the module defines,
    and each public method of the classes it defines."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) \
                != mod.__name__:
            continue
        if isinstance(obj, type):
            for mname, meth in list(vars(obj).items()):
                if not mname.startswith("_") and isinstance(
                        meth, types.FunctionType):
                    yield obj, mname, meth
        elif callable(obj) and hasattr(obj, "__qualname__"):
            yield mod, name, obj


class Tracer:
    def __init__(self):
        self.enabled = False
        self.op = None
        self.phase = None
        self.spans: list[tuple] = []   # (layer, name, t0, t1, parent, op, phase)
        self.py4j_calls: dict[tuple, int] = {}
        self._stack: list[int] = []
        self._installed: list[tuple] = []

    # ---- wrapping ------------------------------------------------------

    def _wrap(self, layer, fn):
        tracer = self
        name = f"{layer}:{getattr(fn, '__qualname__', fn.__name__)}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else -1
            tracer.spans.append(None)
            tracer._stack.append(idx)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._stack.pop()
                tracer.spans[idx] = (layer, name, t0, t1, parent,
                                     tracer.op, tracer.phase)
        return traced

    def install(self, spark) -> None:
        """Wrap the layers' functions and count py4j round-trips."""
        replaced = {}
        for layer, target in LAYERS.items():
            for mod in _layer_modules(target):
                for owner, name, fn in _owned_callables(mod):
                    if id(fn) not in replaced:
                        replaced[id(fn)] = (fn, self._wrap(layer, fn))
                    self._set(owner, name, replaced[id(fn)][1])
        # rebind `from x import f` copies held by other modules
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname.startswith("arctic_spark")
                                   or mname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, name, hit[1])

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.enabled:
                key = (self.op, self.phase)
                self.py4j_calls[key] = self.py4j_calls.get(key, 0) + 1
            return send(*args, **kwargs)
        self._set(client, "send_command", counted)

    def _set(self, owner, name, value):
        self._installed.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._installed):
            setattr(owner, name, old)
        self._installed.clear()

    # ---- recording -----------------------------------------------------

    def at(self, op, phase) -> None:
        self.op, self.phase = op, phase

    def self_times(self, phase) -> dict[tuple, float]:
        """{(op, layer): self seconds} over spans of ``phase``: each
        span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s is not None and s[4] >= 0:
                child[s[4]] += s[3] - s[2]
        out: dict[tuple, float] = {}
        for i, s in enumerate(self.spans):
            if s is None or s[6] != phase:
                continue
            key = (s[5], s[0])
            out[key] = out.get(key, 0.0) + (s[3] - s[2]) - child[i]
        return out

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                if s is None:
                    continue
                layer, name, t0, t1, parent, op, phase = s
                f.write(json.dumps({"id": i, "layer": layer, "name": name,
                                    "start": t0, "end": t1,
                                    "parent": parent, "op": op,
                                    "phase": phase}) + "\n")
