"""Timing spans around the public callables of each layer.

The package is not edited: :meth:`Tracer.install` swaps each layer's
entry point for a timing wrapper, and :meth:`Tracer.uninstall` puts the
originals back, so untraced operations run the unmodified code.  A span
has a name, start, end, parent span and operation id; spans stay in
memory and are written out when the run ends.

Catalyst's own phase timings (``QueryExecution.tracker().phases()``) are
read after each operation and added as child spans of whichever span
they ran inside: analysis of the final plan runs while the DataFrame is
built, optimisation and physical planning inside ``collect``.  A span's
self time is its duration minus the union of its children's intervals.
Each named span charges its self time to one layer; the self time of
the operation span itself is time outside every wrapped callable, and is
reported as unattributed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import types
from dataclasses import asdict, dataclass
from typing import Any, Callable, Optional

#: span name -> the layer its self time is charged to
LAYER_OF = {
    "server.json_decode": "server.self_ms",      # request body (WSGI)
    "server.json_encode": "server.self_ms",      # response body (WSGI)
    "server.execute": "server.self_ms",          # dispatch + Row.asDict
    "graphql.parse_operations": "graphql.parse_ms",
    "parse_tree.ParseTree": "parse_tree.ms",
    "parse_tree.build_query": "parse_tree.ms",
    "query.nested_df": "query.compile_ms",
    "query.df": "query.compile_ms",
    "query.chosen_representation": "query.rep_choice_ms",
    "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "pipeline.build": "pipeline.build_ms",      # a row's builder call
    "spark.collect": "spark.exec_ms",
}
OPERATION = "op"  # the span around one request or one pipeline row
LAYERS = tuple(dict.fromkeys(LAYER_OF.values()))
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float          # time.perf_counter() seconds
    end: float
    parent: Optional[int]  # index into Tracer.spans
    rid: int


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.rid: Optional[int] = None
        self._stack: list[int] = []
        self._first = 0  # index of the current operation's span
        self._collects: list[Any] = []  # JVM Datasets collected
        self._undo: list[tuple[Any, str, Any]] = []
        # the JVM stamps phases in epoch milliseconds
        self._epoch0, self._perf0 = time.time(), time.perf_counter()

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.rid))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.rid is None:  # outside a traced operation
                return fn(*args, **kwargs)
            idx = self._open(name)
            if name == "spark.collect":
                self._collects.append(args[0]._jdf)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a call the benchmark makes itself."""
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def begin_op(self, rid: int) -> None:
        self.rid = rid
        self._first = len(self.spans)
        self._open(OPERATION)

    def end_op(self) -> None:
        self._close(self._first)
        self.rid = None

    def attach_catalyst(self) -> None:
        """Read the phase timings of the operation just ended (outside its
        span) and add them as child spans of the span they ran in."""
        own = range(self._first, len(self.spans))
        rid = self.spans[self._first].rid
        for jdf in self._collects:
            phases = jdf.queryExecution().tracker().phases()
            for phase in CATALYST_PHASES:
                opt = phases.get(phase)
                if not opt.isDefined():
                    continue
                summary = opt.get()
                a = self._perf(summary.startTimeMs())
                b = self._perf(summary.endTimeMs())
                mid = (a + b) / 2
                inner = [i for i in own
                         if self.spans[i].start <= mid <= self.spans[i].end]
                if not inner:  # ran before this operation
                    continue
                host = self.spans[max(inner)]  # innermost: opened last
                self.spans.append(Span(
                    f"catalyst.{phase}", max(a, host.start),
                    min(b, host.end), max(inner), rid))
        self._collects.clear()

    def _perf(self, epoch_ms: int) -> float:
        return self._perf0 + (epoch_ms / 1000.0 - self._epoch0)

    # -- patching ------------------------------------------------------
    def _patch(self, owner: Any, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from activecube_graphql_spark import parse_tree, query, server

        # server imports these by name, so the wrapper goes on server's
        # binding; wsgi_app looks up server.execute and server.json at
        # call time
        self._patch(server, "execute", "server.execute")
        self._undo.append((server, "json", server.json))
        server.json = types.SimpleNamespace(
            loads=self.wrap(json.loads, "server.json_decode"),
            dumps=self.wrap(json.dumps, "server.json_encode"))
        self._patch(server, "parse_operations", "graphql.parse_operations")
        self._patch(server, "ParseTree", "parse_tree.ParseTree")
        self._patch(parse_tree.ParseTree, "build_query",
                    "parse_tree.build_query")
        self._patch(parse_tree.ParseTree, "nested_df", "query.nested_df")
        self._patch(query.CubeQueryBuilder, "df", "query.df")
        self._patch(query.CubeQueryBuilder, "chosen_representation",
                    "query.chosen_representation")
        self._patch(DataFrame, "collect", "spark.collect")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- results -------------------------------------------------------
    def layer_ms(self) -> tuple[dict[str, float], float, int]:
        """(layer -> mean self ms per operation, percent of operation time
        outside every wrapped callable, operations)."""
        totals = dict.fromkeys(LAYERS, 0.0)
        op_s, unattributed_s, n = 0.0, 0.0, 0
        for span, own in zip(self.spans, self_times(self.spans)):
            if span.name == OPERATION:
                op_s += span.end - span.start
                unattributed_s += own
                n += 1
            else:
                totals[LAYER_OF[span.name]] += own
        return ({k: v * 1000.0 / n for k, v in totals.items()},
                100.0 * unattributed_s / op_s, n)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
