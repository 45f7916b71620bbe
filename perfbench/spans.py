"""In-memory spans recorded by the benchmark around its calls into each
engine layer. Spans are kept in a list and written out when the run ends.
A disabled tracer records nothing and costs one attribute test per span.

Spans opened on the main thread nest through a per-thread stack. Spark
calls `foreachBatch` functions on a py4j callback thread, so spans opened
there name their parent explicitly."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record `name` around the block; yields the span id (None when
        disabled). `parent` overrides the enclosing span of this thread."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        st = self._stack()
        par = parent if parent is not None else (st[-1] if st else None)
        st.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, par,
                                       self.run_id, attrs))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")
