"""In-memory spans and counters for the traced run.

A span is ``(id, name, parent, start, end)`` on the ``perf_counter``
clock; counters are attached to the span open when they are recorded.
Spans are recorded only around calls the benchmark itself makes into a
layer of the engine, and only when tracing is on; ``write`` dumps them
as JSON when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.perf_counter(), None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None) -> dict:
        """Record a span whose times were measured elsewhere (for example
        a trigger's phases, read from its progress event)."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, "counters": {}}
        self.spans.append(rec)
        return rec

    def count(self, name: str, value: float) -> None:
        if self.enabled and self._stack:
            counters = self.spans[self._stack[-1]]["counters"]
            counters[name] = counters.get(name, 0) + value

    def total_prefix(self, prefix: str) -> float:
        """Summed duration of every span whose name starts with ``prefix``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"].startswith(prefix))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)
