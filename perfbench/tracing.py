"""In-memory spans recorded around calls into the program's layers.

``Tracer.wrap`` replaces a module or class attribute with a wrapper that
opens a span around each call; ``Tracer.restore`` puts the originals
back. Spans are plain records kept in memory and written out when the
run ends.

Self time follows the timeline: at every instant inside a root span,
the time goes to the spans that are active and have no active child,
split evenly when several run at once (the gold writes fan out over
three threads). The self times of a root and all its descendants
therefore add up to the root's wall time exactly.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from eventlog import Span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's
        # innermost open span: the call that fanned the work out
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.time(), 0.0, parent.id if parent else None, attrs)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str, attrs_of=None) -> None:
        """Trace every call of ``owner.attr`` as span ``name``;
        ``attrs_of(*args, **kwargs)`` may add attributes to the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **extra):
                return original(*args, **kwargs)

        self._saved.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id over one span tree (see module doc)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    points = sorted({t for s in spans for t in (s.start, s.end)})
    out = {s.id: 0.0 for s in spans}
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        active = {s.id for s in spans if s.start <= mid < s.end}
        leaves = [
            sid for sid in active
            if not any(c.id in active for c in children.get(sid, ()))
        ]
        for sid in leaves:
            out[sid] += (b - a) / len(leaves)
    return out


def inclusive(spans: list[Span], own: dict[int, float], top: Span) -> float:
    """Self time of ``top`` plus that of every span below it."""
    ids = {top.id}
    total = own[top.id]
    for s in spans:
        if s.parent in ids:
            ids.add(s.id)
            total += own[s.id]
    return total
