"""Spans and counters for the traced benchmark run.

The daemon process wraps the public functions of each orestes_spark
layer (``instrument``) so that every call records a span: name, start,
end, parent span and request id. Spans stay in memory and are written
out when the daemon stops. Wrappers check ``Tracer.enabled`` first, so
the untraced phase of a traced run pays one attribute test per call.

A layer's self time is its span minus its child spans (``self_times``).
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []  # (id, parent, name, req, t0, t1, attrs)
        self.counts: Counter = Counter()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, req: str | None = None) -> tuple:
        stack = self._stack()
        parent = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        frame = (sid, req if req is not None else parent[1], parent[0], name, time.perf_counter())
        stack.append((sid, frame[1]))
        return frame

    def end(self, frame: tuple, **attrs) -> None:
        t1 = time.perf_counter()
        self._stack().pop()
        sid, req, parent, name, t0 = frame
        with self._lock:
            self.spans.append((sid, parent, name, req, t0, t1, attrs))

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)


def wrap_call(tracer: Tracer, owner, attr: str, name: str, after=None) -> None:
    """Replace ``owner.attr`` with a spanned call. ``after(result,
    args, kwargs)`` may record counters from the call."""
    fn = getattr(owner, attr)
    is_static = isinstance(owner.__dict__.get(attr), staticmethod) if isinstance(owner, type) else False

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        frame = tracer.begin(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(frame)
        if after is not None:
            after(result, args, kwargs)
        return result

    setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)


def wrap_gen(tracer: Tracer, owner, attr: str, name: str) -> None:
    """Replace a generator function: each ``next()`` is one span piece,
    so the time the consumer spends between items is not charged to
    the generator's layer."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            yield from fn(*args, **kwargs)
            return
        it = iter(fn(*args, **kwargs))
        while True:
            frame = tracer.begin(name)
            try:
                item = next(it)
            except StopIteration:
                tracer.end(frame)
                return
            except BaseException:
                tracer.end(frame)
                raise
            tracer.end(frame)
            yield item

    setattr(owner, attr, wrapper)


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id → self seconds: duration minus the durations of its direct
    children. Children come from the same thread's span stack and each
    ``wrap_gen`` piece closes before it yields, so they run one after
    another inside their parent and never overlap."""
    out = {sid: t1 - t0 for sid, _parent, _name, _req, t0, t1, _a in spans}
    for _sid, parent, _name, _req, t0, t1, _a in spans:
        if parent in out:
            out[parent] -= t1 - t0
    return out
