"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, thread). Spans are opened around
the benchmark's own calls into the engine and, while tracing is on,
around module-level functions of the package that ``wrap`` replaces at
runtime. Nothing is wrapped unless a ``Tracer`` is switched on, and
``unwrap`` restores every original, so the untimed and the untraced
windows run the package exactly as shipped.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "etl_visualization_of_cryptocurrency_trading_data_spark"


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[list] = []  # [name, start, end, parent, thread]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._mark = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        stack = self._stack()
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None,
               threading.get_ident()]
        with self._lock:  # wrapped functions can run on Py4J callback threads
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    def wrap(self, module, names: list[str], prefix: str, count=None) -> None:
        """Replace ``module.<name>`` by a span-recording wrapper, in the
        module itself and in every loaded package module that imported
        the function by name. ``count(name, args, kwargs, result)``, if
        given, returns counters to add after each call."""
        for name in names:
            orig = getattr(module, name)

            def make(orig=orig, name=name, span=f"{prefix}.{name}"):
                @functools.wraps(orig)
                def wrapper(*args, **kwargs):
                    with self.span(span):
                        result = orig(*args, **kwargs)
                    if count is not None and self.on:
                        added = count(name, args, kwargs, result)
                        with self._lock:
                            for key, value in added.items():
                                self.counters[key] += value
                    return result

                return wrapper

            wrapper = make()
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def mark(self) -> None:
        """Start of the timed window: ``layer_self_times`` counts spans
        from here on."""
        self._mark = len(self.spans)

    def self_times(self, start: int = 0) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans[start:]:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans[start:], start):
            if s[2] is not None:
                out[s[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def layer_self_times(self, layers: dict[str, str]) -> dict[str, float]:
        """Self seconds since ``mark`` per layer; ``layers`` maps a span
        name or name prefix to its layer, first match wins."""
        out: dict[str, float] = defaultdict(float)
        for name, spent in self.self_times(self._mark).items():
            layer = next((v for k, v in layers.items() if name.startswith(k)), None)
            if layer:
                out[layer] += spent
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s[1] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "self_s": self.self_times(),
                    "spans": [
                        {"name": s[0], "start": s[1] - t0, "end": (s[2] or s[1]) - t0,
                         "parent": s[3], "thread": s[4]}
                        for s in self.spans
                    ],
                },
                f,
            )

