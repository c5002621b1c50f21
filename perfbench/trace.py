"""Layer tracing from outside the engine.

Spans are recorded around calls into the package's modules by swapping
module attributes for timing wrappers; no engine code changes. Each span
has a name, start, end, the span that caused it and the id of the
benchmark operation it belongs to. Spans stay in memory and are written
out once, when the run ends. With tracing off nothing is patched and
``span`` is a no-op.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "energy_data_stream_processing_spark"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op: int | None = None  # current benchmark operation id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "op": self.op,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def reset(self) -> None:
        """Forget the spans and counts recorded so far (the warm-up's)."""
        self.spans.clear()
        self.counts.clear()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def total(self, name: str, **match) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name
                   and all(s.get(k) == v for k, v in match.items()))

    def n_spans(self, name: str, **match) -> int:
        return sum(1 for s in self.spans if s["name"] == name
                   and all(s.get(k) == v for k, v in match.items()))

    # -- patching -----------------------------------------------------------
    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``module.attr`` as span ``name``, wherever the
        package bound it (``from x import f`` copies the reference into the
        importing module, so every loaded package module holding the same
        object is patched). ``on_result(result, span)`` may record counts
        or wrap the result."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                return on_result(out, sp) if on_result else out

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patches.append((mod, key, orig))

    def wrap_callable(self, fn, name: str):
        """A timing wrapper around one callable (e.g. a foreachBatch body
        returned by a sink factory)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def restore(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)
