"""In-memory spans around the package's public functions.

A span records name, start, end, parent and trace id; every span of one
operation (one query execution or one ``run_ingest`` call) shares the trace
id. The benchmark installs wrappers by rebinding each name where the package
looks it up (a module global or a class attribute) and restores the original
bindings afterwards, so nothing under the package changes on disk and an
untraced run executes the original functions.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import pkgutil
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: str
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0  # Spark jobs that started inside the span

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for s, e in sorted(intervals):
        s, e = max(s, cursor), min(e, end)
        if e > s:
            total += e - s
            cursor = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(s.start, s.end, children.get(s.span_id, []))
        for s in spans
    }


class Tracer:
    """Collects spans in memory; ``job_count`` (optional) returns the number
    of Spark jobs started so far in the current operation."""

    def __init__(self, job_count: Callable[[], int] | None = None):
        self.spans: list[Span] = []
        self.trace_id = ""
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._job_count = job_count or (lambda: 0)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), parent, self.trace_id, name, time.perf_counter())
        jobs0 = self._job_count()
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.jobs = self._job_count() - jobs0
            self.spans.append(sp)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def of_trace(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class Patches:
    """Rebind attributes to traced wrappers; ``undo`` restores them."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, span_name: str) -> None:
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, self.tracer.wrap(span_name, original))

    def undo(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()


def install(tracer: Tracer) -> Patches:
    """Wrap every layer boundary the benchmark reports on."""
    from oe_batch_processing_spark import engine, tables
    from oe_batch_processing_spark.sinks import ledger
    from oe_batch_processing_spark.sources import outcome

    p = Patches(tracer)
    p.wrap(engine, "line_scan", "sources.line_scan")
    p.wrap(engine, "csv_parse", "sources.csv_parse")
    p.wrap(engine, "rest_write", "sinks.rest_sink")
    p.wrap(ledger, "write_status", "sinks.ledger.write_status")
    p.wrap(ledger, "write_run", "sinks.ledger.write_run")
    p.wrap(outcome.RoutedRecords, "counts", "sources.outcome.counts")
    originals = {"load_table": tables.load_table, "register_views": tables.register_views}
    for mod in _query_modules():
        for attr, fn in originals.items():
            if getattr(mod, attr, None) is fn:
                p.wrap(mod, attr, f"tables.{attr}")
    # register_views reaches load_table through the tables module itself
    p.wrap(tables, "load_table", "tables.load_table")
    return p


def _query_modules() -> list:
    import oe_batch_processing_spark.operators as operators
    import oe_batch_processing_spark.streaming as streaming

    mods = []
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mods.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
    return mods
