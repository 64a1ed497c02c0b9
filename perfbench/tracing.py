"""In-memory spans for the traced run, written out once the run ends.

A span has a name, start, end (epoch seconds), parent span id and the run
id.  Spans nest workload -> op -> Spark execution -> stage, and
workload -> probe -> layer call for the in-process layer probes.  Self
time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    costs one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            Span(sid, name, start, end, self.current if parent is None else parent, self.run_id, attrs)
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(
                (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])
            ):
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.span_id] = max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str, summary: dict) -> None:
        self_t = self.self_times()
        spans = [dict(asdict(s), self_s=self_t[s.span_id]) for s in self.spans]
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["self_s"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "summary": summary, "self_s_by_name": by_name, "spans": spans},
                f,
                indent=1,
                default=str,
            )
