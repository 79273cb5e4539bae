"""In-memory spans for the traced run.

A span is one timed call into a layer: name, start, end, the span that
was open when it began (its parent) and the run id. Spans stay in memory
and are written out once, when the run ends. A disabled tracer records
nothing, so the untraced run pays only a context-manager entry per call."""
from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover
        (children of one parent run one after another, never overlap)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def self_totals(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for (s, own) in zip(self.spans, self.self_times()):
            out[s["name"]] += own
        return dict(out)

    def write(self, path: str) -> None:
        rows = [dict(s, self_s=own)
                for (s, own) in zip(self.spans, self.self_times())]
        with open(path, "w") as fp:
            json.dump(rows, fp)
