"""In-memory spans around the engine's public calls.

The benchmark installs wrappers from its own files (the engine is not
edited): each wrapped call records a span (name, start, end, parent).
Spans stay in memory until the run ends. A span's self time is its
duration minus the part of its interval that its child spans cover, so
concurrent children (the sink writes run in a thread pool) count once.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; wrappers stay installed until
    ``uninstall`` so a run can alternate traced and untraced parts."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        # optional per-micro-batch switch: batch id → trace this batch?
        self.batch_gate = None

    # ---- recording ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        """Innermost open span of the calling thread (or the span it
        inherited from the thread that handed it work)."""
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    def open(self, name: str, **attrs) -> Span:
        parent = self.current()
        sp = Span(next(self._ids), name, self.clock(),
                  parent=parent.id if parent else None, attrs=attrs)
        self._stack().append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block while ``enabled``."""
        sp = self.open(name, **attrs) if self.enabled else None
        try:
            yield sp
        finally:
            if sp is not None:
                self.close(sp)

    # ---- wrappers ----------------------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until
        ``uninstall``."""
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Wrap ``owner.attr`` in a span. ``name`` is a span name or a
        callable of the call's arguments; ``on_result(span, result)`` may
        attach counts to the span."""
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                if not tracer.enabled:
                    return orig(*args, **kwargs)
                with tracer.span(name(*args, **kwargs) if callable(name) else name) as sp:
                    result = orig(*args, **kwargs)
                    if on_result is not None:
                        on_result(sp, result)
                    return result

            return wrapper

        self.patch(owner, attr, make)

    def propagate_into(self, executor_cls) -> None:
        """Make work submitted to ``executor_cls`` run under the
        submitting thread's open span, so a pool thread's spans (the
        concurrent sink writes) get the right parent."""
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def submit(pool, fn, /, *args, **kwargs):
                parent = tracer.current() if tracer.enabled else None
                if parent is None:
                    return orig(pool, fn, *args, **kwargs)

                def run(*a, **kw):
                    tracer._local.inherited = parent
                    try:
                        return fn(*a, **kw)
                    finally:
                        tracer._local.inherited = None

                return orig(pool, run, *args, **kwargs)

            return submit

        self.patch(executor_cls, "submit", make)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- analysis ----------------------------------------------------------

def covered(start: float, end: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.id: sp.duration - covered(sp.start, sp.end, kids.get(sp.id, ()))
            for sp in spans}


def self_time_table(spans: list[Span]) -> list[tuple[str, int, float, float]]:
    """(name, calls, total seconds, total self seconds), largest self first."""
    st = self_times(spans)
    rows: dict[str, list] = {}
    for sp in spans:
        r = rows.setdefault(sp.name, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += sp.duration
        r[2] += st[sp.id]
    return sorted(((n, c, t, s) for n, (c, t, s) in rows.items()),
                  key=lambda r: -r[3])
