"""In-memory span tracer for the traced benchmark run.

A span is ``{name, start, end, parent, request_id}`` plus optional
attributes.  Spans stay in a list until the run ends and are then written
out as JSON.  With ``enabled=False`` every call is a cheap no-op, so the
timed (untraced) runs carry no wrappers and record nothing.

Spans are recorded by the benchmark's own code around the public calls
into each engine module; ``wrap`` swaps a module attribute (or a class
method) for a recording wrapper and ``restore`` puts the originals back.
The driver process is single-threaded while it records, so a plain stack
gives each span its parent.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "request_id": self.request_id}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``.  ``count(result)`` may return a number stored on
        the span as ``n`` (for example postings decoded)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if count is not None:
                    rec["n"] = count(out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children of one parent never overlap (single-threaded recording), so
    the covered part is the sum of the children's durations clipped to
    the parent's interval."""
    covered = [0.0] * len(spans)
    for s in spans:
        p = s["parent"]
        if p is not None:
            par = spans[p]
            lo, hi = max(s["start"], par["start"]), min(s["end"], par["end"])
            covered[p] += max(0.0, hi - lo)
    return [max(0.0, s["end"] - s["start"] - c)
            for s, c in zip(spans, covered)]


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span, for the overhead estimate."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n
