"""In-memory span recorder and the patches that put spans around the
engine's public entry points.

A span has a name, a start and end in epoch seconds (the clock Spark's
event log uses, so job intervals can be laid over spans), an id and the
id of the span that was open on the same thread when it started. The
recorder keeps spans in a list and the benchmark writes them out when
it ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class SpanRecorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), stack[-1] if stack else None, name, time.time())
            self.spans.append(s)
        stack.append(s.sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def between(self, t0: float, t1: float) -> list[Span]:
        """Finished spans that started inside [t0, t1]."""
        return [s for s in self.spans if t0 <= s.start <= t1 and s.end]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: the summed duration of its spans minus the part
    of each span's interval that its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.sid]
             if c.end > s.start and c.start < s.end]
        )
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def _wrap(rec: SpanRecorder, name: str, fn, on_error=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with rec.span(name):
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                if on_error is not None:
                    on_error(e)
                raise

    return traced


def install(rec: SpanRecorder) -> None:
    """Wrap the engine's entry points in spans. Modules that bound
    `get_spark` or `load_table` at import get each binding replaced."""
    from core_spark import io, session
    from core_spark.gateway import JournalGateway
    from core_spark.sources.journal import AppendConflict, Journal
    from core_spark.streaming.sink import FencedJournalSink

    def conflict(e):
        if isinstance(e, AppendConflict):
            rec.count("journal.conflicts")

    for mod_fn, name in ((session.get_spark, "session.get_spark"),
                         (io.load_table, "io.load_table")):
        traced = _wrap(rec, name, mod_fn)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("core_spark") and \
                    getattr(mod, mod_fn.__name__, None) is mod_fn:
                setattr(mod, mod_fn.__name__, traced)

    for cls, attr, name, on_error in (
        (Journal, "append", "journal.append", conflict),
        (Journal, "read", "journal.read", None),
        (Journal, "manifest", "journal.manifest", None),
        (Journal, "scan_audit", "journal.scan_audit", None),
        (Journal, "acquire_fence", "journal.acquire_fence", conflict),
        (JournalGateway, "append_ndjson", "gateway.append_ndjson", None),
        (JournalGateway, "read_ndjson", "gateway.read_ndjson", None),
        (FencedJournalSink, "__call__", "sink.commit", None),
    ):
        setattr(cls, attr, _wrap(rec, name, getattr(cls, attr), on_error))
