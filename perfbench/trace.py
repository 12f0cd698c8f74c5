"""In-memory span tracer that times the package's layers from outside.

The benchmark installs wrappers around public callables of the package
(``install``), each recording a span — name, start, end, parent span and
request id — while the tracer is active. Spans stay in memory and are written
out once, at the end of the run. The tracer is single-threaded: spans are
recorded only from the thread driving the workload.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass(slots=True)
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request_id: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.request_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any, bool]] = []

    @contextmanager
    def span(self, name: str):
        """Record a span around the block when active; yields the Span (or
        None when inactive)."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.request_id)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str,
             before: Callable[..., Any] | None = None,
             after: Callable[..., None] | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.

        ``before(args)`` runs before the call and its value is passed to
        ``after(span, state, args, result)``, which can add attributes."""
        original = getattr(owner, attr)
        had_own = attr in vars(owner)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name) as sp:
                state = before(args) if before else None
                out = original(*args, **kwargs)
                if after:
                    after(sp, state, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original, had_own))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original, had_own = self._patches.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out.setdefault(s.parent, []).append(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request_id": s.request_id,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one active wrapped call costs over a plain call: the wrapper,
    the span and its two clock reads."""
    class Probe:
        def call(self):
            return None

    probe = Probe()

    def loop() -> float:
        t0 = time.perf_counter()
        for _ in range(n):
            probe.call()
        return time.perf_counter() - t0

    plain = loop()
    tracer = Tracer()
    tracer.wrap(Probe, "call", "probe")
    tracer.active = True
    wrapped = loop()
    tracer.unwrap_all()
    return max(0.0, wrapped - plain) / n


def self_time(spans: list[Span], idx: int, child_ids: list[int]) -> float:
    """Span ``idx``'s duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    s = spans[idx]
    ivals = sorted((max(spans[c].start, s.start), min(spans[c].end, s.end))
                   for c in child_ids)
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in ivals:
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
    return s.duration - covered
