"""In-memory span tracing around the library's public calls.

Spans are recorded by wrappers installed from the benchmark's own
files; the library itself is not instrumented. A span holds its name,
start, end, parent span and the id of the task it ran under. Tracing
is single-threaded: the workloads run one client with
``max_workers=1``, so a plain stack gives each span its parent.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.task_id: int | None = None
        #: Seconds spent in the tracer's own bookkeeping, measured.
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "task": self.task_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["end"] = end
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def patch(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a ``name``
        span around each call (none when ``name`` is None);
        ``on_result(result, span)`` may annotate the span with facts
        about the result."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) if name else nullcontext() as rec:
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result, rec)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_times(self, since: float = float("-inf")) -> dict[str, float]:
        """Total self time per span name over spans starting at or
        after ``since``: each span's duration minus its children's."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["start"] >= since:
                totals[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(totals)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
