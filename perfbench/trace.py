"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files, around each call into a
layer's public functions: the benchmark either opens a span itself
(``Tracer.span``) or swaps a module's public functions for wrappers
(``Tracer.instrument``).  Spans stay in memory and are written out once, at
exit (``Tracer.dump``).  A layer is the package module path below
``document_parser_spark`` (``plans.resume``, ``operators.search``, ...).

``NullTracer`` has the same surface and records nothing; the untraced run
uses it, so the traced and untraced runs execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from collections import defaultdict

PACKAGE = "document_parser_spark"


class _Traced:
    """A public function wrapped in a span.

    Pickles as the original function, so a wrapper captured by a UDF closure
    ships to the Python workers unwrapped (workers never record spans)."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__, label=_label(args)):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (_identity, (self._fn,))


def _identity(x):
    return x


def _label(args) -> str | None:
    """The basename of a path argument, so two writes of one function
    (spans vs. tables) can be told apart."""
    for a in args:
        if isinstance(a, str) and "/" in a:
            return a.rstrip("/").rsplit("/", 1)[-1]
    return None


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def instrument(self, *module_names: str) -> None:
        """Wrap every public function defined in each named package module,
        wherever a loaded package module holds a reference to it (a caller's
        ``from .resume import write_partitioned`` included)."""
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for short in module_names:
            mod = sys.modules[f"{PACKAGE}.{short}"]
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                wrapper = _Traced(fn, short, self)
                for holder in loaded:
                    if vars(holder).get(name) is fn:
                        self._patched.append((holder, name, fn))
                        setattr(holder, name, wrapper)

    def restore(self) -> None:
        for holder, name, fn in reversed(self._patched):
            setattr(holder, name, fn)
        self._patched.clear()

    def durations_ms(self, name: str, label: str | None = None, layer: str | None = None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (label is None or s.get("label") == label)
            and (layer is None or s["layer"] == layer)
        ]

    def self_ms_by_layer(self, requests: set | None = None) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its child spans cover (children are sequential, so their durations
        sum).  ``requests`` limits the sum to spans of those requests."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000.0
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (requests is not None and s["request"] not in requests):
                continue
            out[s["layer"]] += (s["end"] - s["start"]) * 1000.0 - child_ms[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"clock": "perf_counter_s", "spans": self.spans}, fh)


class NullTracer:
    """Records nothing; used by the untraced run."""

    enabled = False
    request = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        yield {}

    def instrument(self, *module_names: str) -> None:
        pass

    def restore(self) -> None:
        pass
