"""Spans around the engine's layer functions, recorded from the benchmark side.

A span is one call into a layer: name, start, end, parent span and run id.
Spans stay in memory and are written out once, when the run ends.

Spark is lazy, so timing a bare call would only time plan construction.
The wrapper therefore persists every DataFrame the call returns and counts
it inside the span: the span then covers the layer's real work.  The
persisted frames are released by ``Tracer.release`` after each crawl round
or pass.

Calls made from driver threads (``CrawlDriver._concurrently``) have no
open span on their own thread; their parent is the tracer's current root,
the round that started them.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _is_dataframe(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


class Tracer:
    """In-memory span recorder plus the module-attribute patches that feed it."""

    def __init__(self, run: str) -> None:
        self.run = run
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: Span | None = None
        self._persisted: list = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None,
                      self.run, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def materialise(self, out, sp: Span):
        """Persist + count every DataFrame in ``out`` (a frame or a tuple)."""
        items = out if isinstance(out, tuple) else (out,)
        rows = []
        for x in items:
            if _is_dataframe(x):
                x.persist()
                self._persisted.append(x)
                rows.append(x.count())
        if rows:
            sp.counts["rows"] = rows
        return out

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- patching -------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, counter=None):
        """Replace ``owner.attr`` by a traced version.

        ``counter(span, args, out)`` adds layer counts after the span has
        closed; the jobs it runs are recorded as a ``trace`` span, so they
        are excluded from the caller's self time.
        """
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(orig, classmethod)
        fn = orig.__func__ if is_cm else orig
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer.open(name)
            try:
                out = tracer.materialise(fn(*args, **kwargs), sp)
            finally:
                tracer.close(sp)
            if counter is not None:
                with tracer.span("trace"):
                    counter(sp, args, out)
            return out

        traced.__wrapped__ = fn
        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries ------------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = _union_length(
            [(max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp)
             if c.end > c.start]
        )
        return sp.dur - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
