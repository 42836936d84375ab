"""Span tracing from outside the program under test.

``Tracer.install`` wraps the public entry points of each layer by
replacing module and class attributes. The package resolves them at
call time (``from .gql.parser import parse`` inside
``GraphLiteSpark.query``, ``dml.execute_insert``,
``P.shortest_path_pair``), so the wrappers see every call without an
edit under ``graphlite_spark/``.

The wrappers are in place only inside ``Tracer.operation``, so an
untraced operation runs the program's own functions.

A span records its layer, the wrapped function, start, end, parent span
and operation id. Spans stay in memory until ``dump`` writes them out.
A layer's self time is its spans' time minus their child spans' time.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    layer: str
    fn: str
    start: float
    end: float
    parent: int | None
    op: int | None


def _targets():
    """(owner, attribute, layer) for every wrapped entry point."""
    import graphlite_spark as G
    from graphlite_spark import dml
    from graphlite_spark.gql import compiler, lexer, parser, statements
    from graphlite_spark.operators import paths

    return [
        (lexer, "tokenize", "gql.parser"),
        (parser, "tokenize", "gql.parser"),
        (parser, "parse", "gql.parser"),
        (statements, "parse_statement", "gql.parser"),
        (compiler.QueryCompiler, "compile", "gql.compiler"),
        (G.GraphLiteSpark, "query", "engine"),
        (G.GraphLiteSpark, "execute", "engine"),
        (dml, "execute_insert", "dml"),
        (dml, "execute_mutate", "dml"),
        (paths, "shortest_path_pair", "operators.paths"),
    ]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str, fn: str = ""):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, layer, fn, 0.0, 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: int, kind: str):
        """Root span of one benchmark operation, with the layers' entry
        points wrapped for its length."""
        self.install()
        self._op = op_id
        try:
            with self.span("op", kind):
                yield
        finally:
            self._op = None
            self.uninstall()

    # -- wrapping --------------------------------------------------------------
    def install(self) -> None:
        for owner, attr, layer in _targets():
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, layer))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, layer: str):
        name = fn.__name__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    # -- analysis --------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """layer -> summed self time in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - child[s.sid]
        return out

    def fn_times(self, layer: str) -> dict[str, list[float]]:
        """fn -> durations of the outermost spans of ``layer`` per call."""
        by_id = {s.sid: s for s in self.spans}
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s.layer != layer:
                continue
            p = by_id.get(s.parent)
            if p is not None and p.layer == layer:
                continue
            out[s.fn].append(s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class JobCounter:
    """Spark jobs, stages and tasks of one operation, read from the
    status tracker through a job group set for that operation."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def group(self, name: str):
        self.set(name)
        try:
            yield
        finally:
            self.set(None)

    def counts(self, name: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks
