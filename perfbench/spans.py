"""In-memory span recorder used by the traced run.

Spans are recorded around calls into the program's layers from the
benchmark's own files (wrappers installed on classes and module
attributes); nothing inside the program is edited. A span is
``[id, parent_id, name, start, end]``; parents come from a per-thread
stack, so spans of one request share the request's root span.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                tracer.counts[f"{name}!{getattr(e, 'code', type(e).__name__)}"] += 1
                raise
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append([sid, parent, name, t0, t1])

        return traced

    def record(self, name: str, t0: float, t1: float) -> None:
        """A leaf span measured by the caller (e.g. a lock wait)."""
        stack = self._stack()
        self.spans.append([next(self._ids), stack[-1] if stack else 0, name, t0, t1])

    def wrap_methods(self, cls: type, prefix: str) -> None:
        """Replace each public method of ``cls`` with a traced wrapper
        until ``restore`` is called."""
        for n, v in list(vars(cls).items()):
            if callable(v) and not n.startswith("_"):
                self._patched.append((cls, n, v))
                setattr(cls, n, self.wrap(v, f"{prefix}.{n}"))

    def restore(self) -> None:
        """Put back every method ``wrap_methods`` replaced."""
        for cls, n, v in reversed(self._patched):
            setattr(cls, n, v)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


class TimedLock:
    """Context-manager stand-in for a lock that records how long each
    acquisition waited."""

    def __init__(self, lock, tracer: Tracer, name: str):
        self._lock, self._tracer, self._name = lock, tracer, name

    def __enter__(self):
        t0 = time.perf_counter()
        self._lock.acquire()
        self._tracer.record(self._name, t0, time.perf_counter())
        return self

    def __exit__(self, *exc) -> None:
        self._lock.release()


class SpanTree:
    """Read-side view over recorded spans: durations, exclusive (self)
    times and per-layer totals within a subtree."""

    def __init__(self, spans: list[list]):
        self.spans = {s[0]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for sid, parent, *_ in spans:
            self.children[parent].append(sid)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s[4] - s[3]

    def exclusive(self, sid: int) -> float:
        return self.duration(sid) - sum(self.duration(c) for c in self.children.get(sid, ()))

    def named(self, prefix: str) -> list[int]:
        return [sid for sid, s in self.spans.items() if s[2].startswith(prefix)]

    def roots(self) -> list[int]:
        return [sid for sid, s in self.spans.items() if s[1] == 0]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, ()))
        return out

    def layer_time(self, sid: int, layer: str) -> float:
        """Exclusive time spent in spans named ``layer.*`` inside the
        subtree rooted at ``sid`` (the root included)."""
        return sum(
            self.exclusive(s) for s in self.subtree(sid) if self.spans[s][2].startswith(layer + ".")
        )
