"""In-memory spans for the traced run; ``run.py`` writes them out when
the run ends."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start_s: float          # seconds since the tracer was created
    end_s: float | None
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op so the
    untraced path pays nothing but a branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._t0 = time.perf_counter()
        self._stack: list[int] = []

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start_s: float, end_s: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a finished span with explicit times (e.g. micro-batch
        spans rebuilt from progress timestamps)."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start_s, end_s, parent, attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body; nested spans get this one as parent."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, self.now(), None, self.current(), **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end_s = self.now()

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
