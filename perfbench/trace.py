"""In-memory spans around the benchmark's calls into each program layer.

A span has a name (``<layer>.<call>``), start and end (``perf_counter``
seconds), its parent span and the trace it belongs to; extra attributes
(Spark stage diffs, counts) ride along in ``attrs``. Nothing is written
until :meth:`Tracer.dump`. A disabled tracer costs one branch per span, so
the timed runs use the same code path with tracing off.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's attribute
        dict (or a throwaway one when disabled) so the block can attach
        counts to it."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_rollup(self) -> dict[str, dict[str, float]]:
        """Self time and span count per layer (the name's first component)."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            r = out.setdefault(layer, {"self_s": 0.0, "total_s": 0.0, "spans": 0})
            r["self_s"] += selfs[s["id"]]
            r["spans"] += 1
            if s["parent"] is None or self.spans[s["parent"]]["name"].split(".", 1)[0] != layer:
                r["total_s"] += s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": spans, **extra}, f, indent=1, default=float)
