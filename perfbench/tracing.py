"""In-memory spans around the benchmark's calls into each engine layer.

A span holds a name, start and end (``time.perf_counter`` seconds), the
index of its parent span and the run id.  Spans nest by call structure: a
span opened while another is open becomes its child.  Nothing is written
until ``dump`` at the end of the run.  A disabled tracer records nothing
and costs one attribute test per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = False):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def cost_per_span(self, n: int = 20_000) -> float:
        """Measured seconds one enabled span costs, on a scratch tracer."""
        probe = Tracer(self.run_id, enabled=True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        part of its interval covered by its direct children."""
        child_cover: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, last_end = 0.0, s["start"]
            for a, b in sorted(child_cover.get(i, [])):
                a = max(a, last_end)
                if b > a:
                    covered += b - a
                    last_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "self_s": self.self_times()},
                fh,
            )
