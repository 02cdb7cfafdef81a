"""In-memory spans for the traced run.

A span is (name, start, end, parent, run_id), recorded around a call into
one of the program's layers from the benchmark's own code. Spans stay in
memory and are written out once, when the run ends. Each span also labels
the Spark jobs it starts with ``setJobDescription(name)``, so the event log
can be split by layer.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = None  # set once the session has started
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run_id": self.run_id, "wall_start": time.time(),
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["wall_end"] = time.time()
            self._stack.pop()
            self._describe(self.spans[self._stack[-1]] if self._stack else None)

    def _describe(self, rec):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                None if rec is None else f"{self.run_id}/{rec['id']}:{rec['name']}")

    def self_times(self) -> dict:
        """span id -> duration minus the part of it its children cover."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def duration(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "dur_s": s["end"] - s["start"], "self_s": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)
