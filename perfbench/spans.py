"""Spans around calls into the package's layers, recorded from outside.

Only the traced run installs wrappers. :meth:`Tracer.wrap` replaces a
public function on its module with a timing wrapper; call sites in the
package reach these functions through module attributes (``TS.``,
``DI.``, ``FC.`` aliases, or ``from .. import`` inside a function body,
which reads the attribute at call time), so the wrapper
sees those calls without any change to the package. Functions bound by
name at import time (``sources.load_table`` inside the query modules)
cannot be timed this way.

Spans are kept in memory and written out as JSON lines when the run
ends: ``{"id", "parent", "op", "name", "start", "end"}`` with times in
seconds since the tracer was created. ``op`` is the benchmark operation
(one statement or commit) the span belongs to.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span; ``op`` defaults to the enclosing span's op."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def event(self, name: str, **fields) -> None:
        """A zero-length span carrying measured ``fields``."""
        with self.span(name) as rec:
            rec.update(fields)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as span ``name``."""
        original = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        """Seconds spent in outermost spans called ``name`` (a wrapped
        function that calls itself, or a twin it also wraps, counts once)."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != name:
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s["end"] - s["start"])
        return out

    def median(self, name: str, scale: float = 1.0) -> float:
        d = self.durations(name)
        return statistics.median(d) * scale if d else 0.0

    def values(self, name: str, field: str) -> list:
        return [s[field] for s in self.spans if s["name"] == name and field in s]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, separators=(",", ":")) + "\n")
