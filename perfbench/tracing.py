"""In-memory spans for the traced run.

A span records its name, start, end, parent span and operation id. Spans
of one operation share the id. Nothing is written until the run ends.
Layers are timed from outside the engine: :meth:`Tracer.patch` replaces
a module or object attribute with a wrapper that opens a span around
each call, and :meth:`Tracer.restore` puts the originals back.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block; ``op`` defaults to the enclosing span's."""
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op if op is not None else parent_op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def patch(self, owner: object, attr: str, name: str, before=None, after=None,
              op=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``before(*args)``
        runs ahead of the span and its result is handed to
        ``after(state, result, *args)`` once the span closes, so counting
        done there is never inside the timed interval. ``op()``, when
        given, names the operation of a span that has no parent."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            state = before(*args, **kwargs) if before else None
            with self.span(name, op() if op else None):
                result = original(*args, **kwargs)
            if after:
                after(state, result, *args, **kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def totals(self) -> dict[str, float]:
        """Wall seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by the span's children."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
