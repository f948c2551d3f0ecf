"""Tracing for the per-layer run: spans, job groups and timed map/reduce fns.

Spans are recorded from the benchmark's own files, around the package's
public functions where the package binds them (``queries.base.read_table``,
``job.read_text``, ``job.write_tsv``, ``job.Job.dataframe``). Each span also
sets the Spark job group to ``<pass>|<op>|<span name>``, so the event log
attributes every job, stage and task to the innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_no: int
    op: str
    start: float
    end: float = 0.0


class NullTracer:
    """Tracing off: spans cost one ``with`` statement and record nothing."""

    op = ""

    def span(self, name: str):
        return contextlib.nullcontext()


@dataclass
class Tracer:
    sc: object  # the SparkContext whose job group each span sets
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.pass_no}|{self.op}|{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.pass_no, self.op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setJobGroup(self.group(name), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.group(self.spans[parent].name), self.spans[parent].name)


def _wrap(tracer, name: str, fn):
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def patched(tracer):
    """Wrap the package's layer entry points in spans while the block runs."""
    from map_reduce_engine_spark import job
    from map_reduce_engine_spark.queries import base

    targets = [
        (base, "read_table", "io.read"),
        (job, "read_text", "io.read"),
        (job, "write_tsv", "io.write"),
        (job.Job, "dataframe", "queries.build"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for owner, attr, name in targets:
        setattr(owner, attr, _wrap(tracer, name, getattr(owner, attr)))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


class UdfCounters:
    """Accumulators filled by the timed map/reduce fns inside Python workers."""

    def __init__(self, sc):
        self.map_s = sc.accumulator(0.0)
        self.reduce_s = sc.accumulator(0.0)
        self.pairs = sc.accumulator(0)
        self.groups = sc.accumulator(0)

    def snapshot(self) -> tuple[float, float, int, int]:
        return self.map_s.value, self.reduce_s.value, self.pairs.value, self.groups.value

    def instrument(self, map_fn, reduce_fn):
        map_s, reduce_s, pairs, groups = self.map_s, self.reduce_s, self.pairs, self.groups

        def timed_map(record):
            t = time.perf_counter()
            out = list(map_fn(record))
            map_s.add(time.perf_counter() - t)
            pairs.add(len(out))
            return out

        def timed_reduce(key, values):
            t = time.perf_counter()
            out = list(reduce_fn(key, values))
            reduce_s.add(time.perf_counter() - t)
            groups.add(1)
            return out

        return timed_map, timed_reduce


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name not covered by its children (children never overlap)."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[s.id]
    return out
