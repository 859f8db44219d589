"""In-memory spans recorded around calls into the program's layers.

The program is not edited: `Tracer.wrap` swaps a module attribute for a
timing wrapper and `Tracer.close` puts the original back, so only calls
that look the name up on the module at call time are seen. Spans stay in
memory until the run ends; `self_times` then charges each span's duration,
minus the part its direct children cover, to the span's layer name.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None   # index of the enclosing span in Tracer.spans
    key: str             # identifier shared by the spans of one request


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.key = ""

    def span(self, name: str, fn: Callable, *args, **kwargs):
        """Call fn inside a span called name."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.key))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module, attr: str,
             name: str | Callable[..., str] | None = None) -> None:
        """Record a span around every call of module.attr. `name` may be a
        function of the call's arguments, to split one function into
        layers (e.g. by a flag)."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name or attr
            return self.span(label, original, *args, **kwargs)

        self._restore.append((module, attr, original))
        setattr(module, attr, traced)

    def close(self) -> None:
        """Put every wrapped attribute back, newest first."""
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name of each span's duration minus the durations
    of its direct children."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
    return out


def top_level_seconds(spans: list[Span]) -> float:
    """Seconds covered by spans that have no parent."""
    return sum(s.end - s.start for s in spans if s.parent is None)


def per_key_seconds(spans: list[Span]) -> dict[str, float]:
    """Seconds of top-level spans summed per request key."""
    out: dict[str, float] = {}
    for s in spans:
        if s.parent is None:
            out[s.key] = out.get(s.key, 0.0) + (s.end - s.start)
    return out
