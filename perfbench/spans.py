"""In-memory spans recorded by the benchmark around its calls into the
engine.  A span has a name, start, end, parent id and an op id shared
by every span of one op; nothing is written until the run ends."""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children may not overlap when calls are serial, but
        the union keeps the rule exact if they ever do)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {**s, "dur": s["end"] - s["start"], "self": selfs[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


class NullTracer(Tracer):
    """Untraced runs: same interface, records nothing."""

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield None
