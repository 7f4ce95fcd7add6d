"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start, an end, the id of the span that caused
it and the run id all spans of one run share. Spans stay in memory
and are written out at exit, each with its self time: its duration
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def open(self, name: str, parent: int | None = None, start: float | None = None, **attrs) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "run_id": self.run_id,
                "name": name,
                "start": time.perf_counter() if start is None else start,
                "end": None,
                **attrs,
            }
        )
        return len(self.spans) - 1

    def close(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        sid = self.open(name, parent, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def with_self_time(self) -> list[dict]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            end = s["end"] if s["end"] is not None else s["start"]
            covered = _covered(
                [(c["start"], c["end"]) for c in children.get(s["id"], []) if c["end"] is not None],
                s["start"],
                end,
            )
            out.append(dict(s, duration_s=end - s["start"], self_s=end - s["start"] - covered))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_time(), f, indent=1)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
