"""In-memory span recorder for the traced run.

A span has a name, start, end (seconds since the run started), the id of
the span that caused it, and free-form attributes.  Requests of one unit
(a batch pass or a dashboard round) carry the unit's id.  Spans are only
kept in memory while the run measures and are written once, at the end.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Yield the new span's id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            span_id = next(self._ids)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            record = {
                "id": span_id,
                "parent": parent,
                "name": name,
                "start": start - self.t0,
                "end": end - self.t0,
                **attrs,
            }
            with self._lock:
                self.spans.append(record)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
