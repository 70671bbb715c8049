"""Span recorder for the traced run.

A span is one call across a layer boundary: its name, wall-clock start
and end (``time.time()``, the clock Spark's job timestamps use), the
span that was open when it started, and the operation it belongs to.
Spans stay in memory and are written out once, when the run ends.

The wrappers that open spans around the program's public functions
live here and are installed only for the traced run:

- ``sources.load_table``: every module that imported it by name gets
  the wrapper in its own namespace, because ``from ... import
  load_table`` binds the original function there.
- ``DataFrame.localCheckpoint`` and ``DataFrame.checkpoint``: the
  boundary that ``core.checkpointing.make_truncate`` and every direct
  truncation call site pass through.

The arithmetic (interval union, self time) is plain Python so it can
be tested on hand-built spans.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    children = [(c.start, c.end) for c in spans if c.parent == span.id and c.end is not None]
    return span.duration - covered(span.start, span.end, children)


class Recorder:
    """Collects spans. Nesting is tracked per thread; a span opened on a
    helper thread with nothing open there (the program's
    ``_run_concurrent_jobs`` pool) takes the innermost span open on the
    thread that created the recorder as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack: list[Span] = self._stack()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(next(self._ids), name, self.op, parent.id if parent else None, time.time())
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class Patches:
    """Installs the boundary wrappers and restores the originals."""

    def __init__(self, recorder: Recorder) -> None:
        self.recorder = recorder
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from mapreducewordoccurences_spark.sources import readers

        original = readers.load_table
        wrapped = self.recorder.wrap("sources.load_table", original)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("mapreducewordoccurences_spark") and getattr(
                mod, "load_table", None
            ) is original:
                self._set(mod, "load_table", wrapped)
        for method in ("localCheckpoint", "checkpoint"):
            self._set(
                DataFrame, method,
                self.recorder.wrap("checkpointing.truncate", getattr(DataFrame, method)),
            )

    def remove(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)
