"""In-memory span recorder shared by the load generator and the server.

A span is (name, start, end, parent, request id). Spans stay in memory
and are returned when the run ends; a disabled recorder keeps nothing
and costs one attribute test per call.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, process: str) -> None:
        self.enabled = enabled
        self.process = process
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent inside the recorder itself
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = f"{self.process}-{next(self._ids)}"
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "req": req, **attrs}
        rec["start"] = time.time()
        self.self_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self.self_s += time.perf_counter() - t_out

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span whose interval was measured elsewhere (e.g. a
        micro-batch read back from streaming progress)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": f"{self.process}-{next(self._ids)}", "name": name,
                     "parent": None, "start": start, "end": end, **attrs}
                )
