"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and run id. Spans are kept in memory
and written out once, when the run ends. A span's self time is its duration
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
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = {"id": len(self.spans), "name": name,
             "parent": self._open[-1] if self._open else None,
             "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(s)
        self._open.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._open.pop()

    def durations(self) -> dict[str, float]:
        """Span name -> duration, for closed spans (names are used once)."""
        return {s["name"]: s["end"] - s["start"] for s in self.spans
                if s["end"] is not None}

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        rows = [{**s, "self": self_t[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows}, f, indent=1)
