"""In-memory span recorder for the benchmark's traced runs.

A span is recorded around each call the benchmark makes into a layer of
the program (name, start, end, parent span, job id). Spans stay in memory
and are written once when the run ends. Self time is a span's duration
minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, job: int | None = None):
        """Record one span around the ``with`` block."""
        parent = self._stack[-1] if self._stack else None
        if job is None and parent is not None:
            job = parent["job"]
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "job": job,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: summed self time, count and median duration."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"self_s": 0.0, "count": 0, "durations": []})
            agg["self_s"] += dur - covered
            agg["count"] += 1
            agg["durations"].append(dur)
        for agg in out.values():
            agg["median_s"] = statistics.median(agg.pop("durations"))
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0)
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_times": self.self_times(), **extra}, f, indent=1)
