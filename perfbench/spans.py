"""In-memory spans around the benchmark's calls into each layer."""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    """Spans are (id, name, start, end, parent, root); `root` is the id of
    the query or ingest cycle the span belongs to. Recording is on only
    while `active` is set, so traced and untraced iterations can alternate
    in one run. Spans stay in memory until `write`."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, root: str | None = None, parent: int | None = None):
        """Context manager recording one span. Without `parent` the span
        nests in this thread's open span; a callback thread working for a
        span open in another thread passes that span's id and root."""
        if not self.active:
            return nullcontext()
        return self._span(name, root, parent)

    @contextmanager
    def _span(self, name, root, parent):
        stack = self._stack()
        if parent is None and stack:
            parent, root = stack[-1]
        sid = next(self._ids)
        root = root or f"span-{sid}"
        stack.append((sid, root))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, start, end, parent, root))

    def current(self) -> tuple[int, str] | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it that
        its children cover (children are sequential in this benchmark)."""
        child_time: dict[int, float] = defaultdict(float)
        for _, _, start, end, parent, _ in self.spans:
            if parent is not None:
                child_time[parent] += end - start
        out: dict[str, list[float]] = defaultdict(list)
        for sid, name, start, end, _, _ in self.spans:
            out[name].append((end - start - child_time[sid]) * 1000.0)
        return out

    def totals_ms(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for _, name, start, end, _, _ in self.spans:
            out[name].append((end - start) * 1000.0)
        return out

    def write(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "root")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)
