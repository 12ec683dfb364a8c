"""In-memory spans for the traced run.

A span is one call into a layer, timed from the benchmark's side:
name, start, end, the span that caused it, and attributes (the
StatusTracker counts of its job group, Catalyst phase times). Each
query's Spark work runs under a job group named after its span id,
which is how StatusTracker counts are tied back to the span. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: str | None = None, job_group: bool = False):
        """Record one span; with ``job_group`` the Spark jobs started
        inside it run under a job group equal to the span id."""
        span = {"id": f"s{len(self.spans)}", "name": name, "parent": parent, "attrs": {}}
        self.spans.append(span)
        if job_group:
            self.sc.setJobGroup(span["id"], name)
        span["start"] = time.perf_counter() - self._t0
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self._t0
            if job_group:
                self.sc._jsc.clearJobGroup()

    @staticmethod
    def duration(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its direct children cover."""
        covered = sum(
            self.duration(s) for s in self.spans if s["parent"] == span["id"]
        )
        return self.duration(span) - covered

    def write(self, path: Path) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1) + "\n")
