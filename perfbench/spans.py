"""In-memory spans recorded around calls into the package's layers.

A span has a name, a key (the table, batch or query it concerns), start and
end times and the id of the span that caused it. Spans stay in memory while
the run measures and are written once, when it ends. Instance methods are
wrapped from the outside (`wrap_method`), so the package itself carries no
tracing code.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent of spans opened on threads with no open span of their own
        # (the processor's pool threads): the active micro-batch, if any
        self.ambient: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, key=None, parent: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None:
            parent = stack[-1] if stack else self.ambient
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "key": key, "parent": parent,
               "start": time.perf_counter(), "end": None}
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap_method(self, obj, method: str, name: str, key_arg: int | None = None):
        """Replace `obj.method` by a wrapper that records one span per call;
        `key_arg` picks the positional argument used as the span key."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            key = args[key_arg] if key_arg is not None and len(args) > key_arg else None
            with self.span(name, key):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def total(self, name: str, parents: set[int] | None = None) -> float:
        """Summed duration of the spans called `name`, optionally only those
        directly under one of `parents`."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name
                   and (parents is None or s["parent"] in parents))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def maybe_span(tracer: Tracer | None, name: str, key=None, parent: int | None = None):
    """`tracer.span(...)`, or a no-op context when the run is untraced."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, key, parent)
