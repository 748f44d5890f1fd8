"""In-memory span recorder for the traced benchmark mode.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span (None at the root) and ``op`` the id of the op the span
belongs to, so every span of one op shares it.  Spans stay in memory and
are written out once, when the run ends.  A layer's *self time* is its
span's duration minus the part its child spans cover.

With tracing off, :meth:`Tracer.span` returns one shared no-op context
manager, so the untraced run pays a single attribute check per boundary.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.op: int | None = None
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        # counts recorded at the same boundaries as the spans, keyed by
        # metric name: one value per observation
        self.samples: dict[str, list[float]] = defaultdict(list)

    def span(self, name: str):
        if not self.enabled:
            return _NOOP
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(float(value))

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time (seconds) of every closed span."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, list[float]] = defaultdict(list)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name].append(end - start - child[i])
        return out

    def durations(self) -> dict[str, list[float]]:
        """Per span name, the wall duration (seconds) of every closed span."""
        out: dict[str, list[float]] = defaultdict(list)
        for name, start, end, _, _ in self.spans:
            if end is not None:
                out[name].append(end - start)
        return out

    def dump(self, path: str) -> None:
        """Write every span plus each span name's total self time."""
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": s, "end": e, "parent": p,
                         "op": o}
                        for n, s, e, p, o in self.spans
                    ],
                    "self_time_s": {
                        k: sum(v) for k, v in self.self_times().items()
                    },
                },
                f,
            )


def median_ms(values: list[float]) -> float:
    """Median of second-valued samples in milliseconds; 0.0 when the
    layer was never entered."""
    return statistics.median(values) * 1e3 if values else 0.0
