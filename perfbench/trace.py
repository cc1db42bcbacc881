"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent, workload and run id. Spans are
opened from one thread and nest, so a span's children never overlap and
its self time is its duration minus the sum of its children's.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, Iterator, List, Optional

from .metrics import LAYERS


class Tracer:
    def __init__(self, workload: str, run_id: str) -> None:
        self.workload = workload
        self.run_id = run_id
        self.spans: List[dict] = []
        self._open: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def find(self, name: str) -> Optional[dict]:
        return next((s for s in self.spans if s["name"] == name), None)

    def children(self, span: dict) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_times(self) -> Dict[str, float]:
        """Self seconds per layer over every span recorded."""
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                kids = sum(k["end"] - k["start"] for k in self.children(s))
                out[layer] += (s["end"] - s["start"]) - kids
        return out

    def coverage(self, root: dict) -> float:
        """Share of ``root``'s wall time that its direct children cover."""
        kids = sum(k["end"] - k["start"] for k in self.children(root))
        return kids / (root["end"] - root["start"])

    def dump(self, path) -> None:
        with open(path, "w", encoding="utf8") as fh:
            json.dump(self.spans, fh, indent=1)


class NullTracer:
    """The untraced runs' tracer: records nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()
