"""In-memory spans around the calls the benchmark makes into each layer.

The traced run (``--trace 1``) replaces a handful of public functions of
the engine with timing wrappers, for this process only and from the
benchmark's own files; nothing under ``cds_spark/`` changes. Each span
records its name, start, end, parent span, the operation or batch id it
belongs to, the Spark jobs its thread's job group launched inside it, and
any counters the wrapper read off the call's result. Spans stay in memory
and are written out when the run ends; per-layer self time is derived
from them (:func:`self_time`).
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, jobs):
        self.jobs = jobs  # harness.JobCounter
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op_id=None, **attrs):
        st = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": st[-1]["id"] if st else None,
               "op_id": op_id if op_id is not None else (
                   st[-1]["op_id"] if st else None),
               "thread": threading.current_thread().name, **attrs}
        group = self.jobs.group()
        first_job = self.jobs.next_id()
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            rec["jobs"] = self.jobs.count(group, first_job)
            rec["job_group"] = group
            with self._lock:
                self.spans.append(rec)

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None, before=None,
             op_id=None):
        """Replace ``owner.attr`` by a wrapper that runs the original inside
        a span. ``before(rec, args, kwargs)`` and ``after(rec, result,
        args, kwargs)`` may add counters to the span; ``op_id(args)``
        names the batch or operation."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        is_sm = isinstance(raw, staticmethod)
        fn = raw.__func__ if (is_cm or is_sm) else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, op_id=op_id(args) if op_id else None) as rec:
                if before is not None:
                    before(rec, args, kwargs)
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out, args, kwargs)
                return out

        new = (classmethod(wrapper) if is_cm
               else staticmethod(wrapper) if is_sm else wrapper)
        setattr(owner, attr, new)
        self._patched.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """The span's duration minus the part of it its child spans cover
    (children of one thread are sequential, so their union is a sum of
    clipped intervals after merging overlaps)."""
    kids = sorted((max(s["start"], span["start"]), min(s["end"], span["end"]))
                  for s in spans if s.get("parent") == span["id"])
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return duration(span) - covered
