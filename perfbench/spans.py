"""In-memory span recorder. Spans are kept in a list and written out once,
when the run ends; with tracing off every call is a no-op."""

from __future__ import annotations

import contextlib
import itertools
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        """Record ``name`` around the block. The enclosing span on the same
        thread, if any, is the parent, and its request is the default."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent, parent_req = stack[-1] if stack else (None, "-")
        request = request or parent_req
        stack.append((sid, request))
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "request": request,
                                   "parent": parent, "start": start, "end": end})

    def count(self, name: str, request: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts.append({"name": name, "request": request, "value": value})
