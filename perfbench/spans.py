"""Spans around the engine's public functions, recorded from outside it.

A ``Tracer`` wraps module attributes (``lsh.candidate_pairs``,
``SnapshotSink.commit_snapshot``, ...) with functions that time the call,
record a span (name, start, end, parent, trace id) and set a Spark job group
named after the span, so event-log task metrics attribute to it.  The
wrappers pass arguments and results through unchanged.  Spans stay in
memory; ``self_times`` derives each span's self time (duration minus the
part its children cover) when the run ends.

Spark is lazy: a span covers the jobs its call triggers, so the fingerprint
stage, which first materializes inside ``candidate_pairs``' eager count,
is attributed to ``lsh.candidate_pairs`` and not to a span of its own.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log millis / 1000
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.trace_id}/{self.span_id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, clock=time.time):
        self._sc = sc
        self._clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = ""  # also the job group of jobs outside any span
        self._patched: list = []
        self.capture: set[str] = set()  # span names whose (args, result) are kept
        self.captured: list = []

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(GROUP_PROP, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.trace_id, parent.span_id if parent else None,
                 self._clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self._set_group(parent.group if parent else self.trace_id or None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name in self.capture:
                self.captured.append((name, args, out))
            return out

        return traced

    def install(self, targets) -> None:
        """targets: (owner, attribute, span name); owner is a module or class."""
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its direct children's
    intervals (clipped to the span)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.span_id: s.dur - union_length([(c.start, c.end) for c in kids.get(s.span_id, [])],
                                        s.start, s.end)
        for s in spans
    }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

