"""In-memory spans around the benchmark's calls into the engine.

Every operation (one ``search()`` + ``collect()``, one ``search_many()``
batch, one ``build`` ...) gets its own Spark job group, whose id is the
operation id carried by all of the operation's spans; the event-log
parser joins Spark jobs, stages and tasks back to operations through it.
Spans record wall-clock epoch seconds so they line up with the event
log's millisecond timestamps.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None      # index into Tracer.spans, None for a root
    op_id: str
    ok: bool = True

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``op`` also scopes the thread's Spark jobs to a job
    group named after the operation. Safe to share between threads: the
    span stack is per thread, the span list is guarded by a lock."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[Span] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def op(self, kind: str):
        """A root span for one operation of ``kind``, in its own job group."""
        with self._lock:
            op_id = f"{kind}-{next(self._ids)}"
        self._sc.setJobGroup(op_id, kind)
        try:
            with self._span(kind, op_id) as idx:
                yield idx
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        """A child of the innermost open span of this thread."""
        st = self._stack()
        op_id = self.spans[st[-1]].op_id if st else ""
        with self._span(name, op_id) as idx:
            yield idx

    @contextmanager
    def _span(self, name: str, op_id: str):
        st = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0,
                                   st[-1] if st else None, op_id))
        st.append(idx)
        ok = False
        try:
            yield idx
            ok = True
        finally:
            st.pop()
            sp = self.spans[idx]
            sp.end = time.time()
            sp.ok = ok

    def children(self, idx: int, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.parent == idx
                and (name is None or s.name == name)]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_length(kids.get(i, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - covered)
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
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
