"""Spans recorded from the benchmark's side of each layer boundary.

Only the traced run (``--trace 1``) installs wrappers: :meth:`Tracer.wrap`
replaces a public function *where it is bound* (for example
``connector.read_api``, the name ``run_connector`` calls) with one that
opens a span around the call, and :meth:`Tracer.close` puts every original
back. Spans stay in memory and are written out once, at the end.

A span's *self time* is its duration minus what its child spans cover;
each span name belongs to one layer (:data:`LAYER`), so an op's layer
self times add up to the op's wall time.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: span name -> the layer its self time is charged to
LAYER = {
    "op": "bench",
    "construct": "operators",
    "plan": "catalyst",
    "action": "spark",
    "run_connector": "connector",
    "read_api": "rest.ingest",
    "fetch_json": "rest.fetch",
    "quarantine_split": "etl",
    "sanitize_columns": "etl",
    "write_raw": "sinks.write",
    "upsert_parquet": "sinks.write",
    "atomic_replace_parquet": "sinks.replace",
}


@dataclass
class Span:
    name: str
    op: int
    parent: int  # index into Tracer.spans, -1 for an op's root
    start: float  # perf_counter seconds
    end: float = 0.0
    wall_start_ms: float = 0.0  # epoch ms, to place Spark jobs in spans
    wall_end_ms: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        s = Span(name, self.op, parent, time.perf_counter(), wall_start_ms=time.time() * 1000)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end_ms = time.time() * 1000
            self._stack.pop()

    def wrap(self, owner: object, attr: str) -> None:
        """Record a span named ``attr`` around every call of ``owner.attr``
        until :meth:`close`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        """Restore every wrapped function."""
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def op_spans(self, op: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.op == op]

    def self_times(self, op: int) -> dict[str, float]:
        """Self time (s) per layer for one op."""
        spans = self.op_spans(op)
        child = defaultdict(float)
        for _, s in spans:
            if s.parent >= 0:
                child[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for i, s in spans:
            out[LAYER[s.name]] += s.dur - child[i]
        return dict(out)

    def innermost(self, op: int, wall_ms: float) -> Span | None:
        """The deepest span of ``op`` open at epoch ``wall_ms``."""
        best = None
        for _, s in self.op_spans(op):
            if s.wall_start_ms <= wall_ms <= s.wall_end_ms and (
                best is None or s.wall_start_ms >= best.wall_start_ms
            ):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost (s) of opening and closing one span."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("op"):
            pass
    return (time.perf_counter() - t0) / n
