"""Span tracer for the traced benchmark run.

Spans are recorded around calls into the engine's public functions by
monkeypatching them from here; the engine itself is not changed.  Each
span has a name, start, end, parent and op id, and stays in memory until
the run ends.  A span opened with ``jobs=True`` also puts a Spark job tag
on the jobs launched inside it, so the status store can attribute jobs
to it.  Counted events (materializations, tables out) add to every open
span and to the op.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "tag", "child_s")

    def __init__(self, name: str, start: float, parent: Optional[int], op: int, tag: Optional[str]):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.tag = tag
        self.child_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class NullTracer:
    """Tracing off: every span is a shared no-op context."""

    active = False
    _null = contextlib.nullcontext()

    def span(self, name: str, jobs: bool = False):
        return self._null


class Tracer(NullTracer):
    def __init__(self, collector) -> None:
        self.collector = collector
        self.spans: List[Span] = []
        self.events: Dict[int, Dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._stack: List[int] = []
        self._op: Optional[int] = None
        self.active = False

    # -- op scope --

    def begin_op(self, op: int, traced: bool) -> None:
        self._op = op
        self.active = traced

    def end_op(self) -> None:
        self.active = False
        self._op = None

    # -- spans and events --

    @contextlib.contextmanager
    def _span(self, name: str, jobs: bool):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        tag = f"pb-span-{idx}" if jobs else None
        sp = Span(name, time.perf_counter(), parent, self._op, tag)
        self.spans.append(sp)
        self._stack.append(idx)
        if tag:
            self.collector.add_tag(tag)
        try:
            yield sp
        finally:
            if tag:
                self.collector.remove_tag(tag)
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.duration

    def span(self, name: str, jobs: bool = False):
        if not self.active:
            return self._null
        return self._span(name, jobs)

    def event(self, key: str, n: int = 1) -> None:
        if not self.active:
            return
        ev = self.events[self._op]
        ev[key] += n
        for idx in self._stack:
            ev[f"{self.spans[idx].name}.{key}"] += n

    # -- monkeypatching --

    def wrap(self, cls, meth: str, name: str, jobs: bool = False,
             on_result: Optional[Callable] = None) -> None:
        orig = cls.__dict__[meth]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer._span(name, jobs):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(cls, meth, wrapper)

    def count_calls(self, cls, meth: str, key: str) -> None:
        orig = cls.__dict__[meth]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.event(key)
            return orig(*args, **kwargs)

        setattr(cls, meth, wrapper)

    # -- per-op summaries --

    def op_spans(self, op: int) -> List[Span]:
        return [s for s in self.spans if s.op == op]


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine's public functions, one span name per layer call."""
    from pyspark.sql.classic.dataframe import DataFrame

    from dlt_spark.dataset.dataset import Dataset
    from dlt_spark.dataset.relation import Relation
    from dlt_spark.incremental import Incremental
    from dlt_spark.load.load import LoadStage
    from dlt_spark.normalize.relational import RelationalNormalizer
    from dlt_spark.pipeline.pipeline import Pipeline
    from dlt_spark.pipeline.resources import DltResource
    from dlt_spark.pipeline.state import PipelineState
    from dlt_spark.schema.schema import Schema
    from dlt_spark.store.table_store import ParquetTableStore

    w = tracer.wrap
    w(Pipeline, "extract", "extract", jobs=True)
    w(DltResource, "materialize", "extract.materialize", jobs=True)
    w(Pipeline, "normalize", "normalize", jobs=True)
    w(RelationalNormalizer, "normalize", "normalize.relational",
      on_result=lambda tables: tracer.event("tables_out", len(tables)))
    w(Schema, "update_table", "schema.update_table")
    w(Incremental, "apply", "incremental.apply")
    w(Incremental, "update_state", "incremental.update_state", jobs=True)
    w(LoadStage, "write_chain", "load.write_chain", jobs=True)
    w(LoadStage, "commit_schema", "load.commit")
    w(LoadStage, "commit_load", "load.commit")
    w(PipelineState, "persist", "load.commit")
    for meth in ("overwrite", "append", "append_rows", "read", "list_tables"):
        w(ParquetTableStore, meth, f"store.{meth}")
    w(Dataset, "query", "dataset.query")
    w(Dataset, "row_counts", "dataset.row_counts")
    w(Dataset, "load_ids", "dataset.load_ids")
    for meth in ("select", "where", "order_by", "limit", "join"):
        w(Relation, meth, "relation.construct")
    for meth in ("fetchall", "arrow", "df", "max", "min", "fetchone", "fetchscalar"):
        w(Relation, meth, "relation.fetch")
    for meth in ("localCheckpoint", "checkpoint", "cache", "persist"):
        tracer.count_calls(DataFrame, meth, "materializations")
