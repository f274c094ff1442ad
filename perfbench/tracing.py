"""Benchmark-side spans and per-operation deadlines.

A span records name, start, end, parent span and request id. Spans of
one request share the id; a span opened inside another inherits it.
Spans stay in memory and are written out once, when the run ends.
A layer's self time is its span's duration minus its children's.

With tracing off, ``span`` is a no-op context, so the untraced run
pays nothing for the instrumentation points.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class OpTimeout(Exception):
    """An operation overran its deadline."""


def call_with_deadline(seconds: float, fn, *args, **kwargs):
    """Run ``fn`` on a daemon thread; raise OpTimeout after ``seconds``.

    The thread is abandoned on timeout: the caller must then tear down
    whatever the call was blocked on (a pool, a Spark job)."""
    box: dict = {}

    def target():
        try:
            box["value"] = fn(*args, **kwargs)
        except BaseException as exc:  # re-raised in the caller below
            box["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(max(seconds, 0.0))
    if t.is_alive():
        raise OpTimeout(f"{getattr(fn, '__name__', fn)} exceeded {seconds:.1f} s")
    if "error" in box:
        raise box["error"]
    return box["value"]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: (name, start, end, parent index or -1, request id)
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        #: seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid=None):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = self._stack()
        parent, parent_rid = stack[-1] if stack else (-1, None)
        if rid is None:
            rid = parent_rid
        idx = len(self.spans)
        self.spans.append(None)  # reserve: children index after us
        stack.append((idx, rid))
        start = time.perf_counter()
        self.bookkeeping_s += start - b0
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, rid)
            self.bookkeeping_s += time.perf_counter() - end

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, fn, name: str, on_call=None):
        """``fn`` recorded as span ``name``; ``on_call(args)`` counts."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if on_call is not None and self.enabled:
                on_call(args)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def self_times(self, rid_prefix: str = "") -> dict[str, tuple[float, int]]:
        """name -> (summed self seconds, span count), over the spans whose
        request id starts with ``rid_prefix``."""
        child = defaultdict(float)
        for s in self.spans:
            if s is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for i, s in enumerate(self.spans):
            if s is None or not str(s[4]).startswith(rid_prefix):
                continue
            acc = out[s[0]]
            acc[0] += (s[2] - s[1]) - child[i]
            acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(extra) + "\n")
            for i, s in enumerate(self.spans):
                if s is None:
                    continue
                name, start, end, parent, rid = s
                f.write(json.dumps({
                    "id": i, "name": name, "start": start, "end": end,
                    "parent": parent, "rid": rid,
                }) + "\n")
