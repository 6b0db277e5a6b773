"""In-memory span tracer for the traced (``--trace 1``) run.

The library carries no tracing of its own. This module wraps the public
functions of each layer from the outside (module attributes and class
methods are replaced for the life of the process), keeps one span per
call — name, start, end, parent, op id — in memory, derives the
per-layer metrics from them at the end of the run and writes them out.
Self time of a span is its duration minus the durations of its direct
children.

Untraced runs use :class:`NullTracer`, whose spans cost one no-op context
manager, so the workloads read the same either way.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def op(self, kind: str):
        yield


class Span:
    __slots__ = ("name", "start", "end", "parent", "op_id", "children_s")

    def __init__(self, name, start, parent, op_id):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op_id = op_id
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: "int | None" = None
        self._next_op = 0
        # per-op counters: counters[name][op_id] = n
        self.counters: dict[str, dict[int, int]] = defaultdict(
            lambda: defaultdict(int)
        )
        # time spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent, self.op_id)
        self.spans.append(s)
        self._stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.end = t2
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextmanager
    def op(self, kind: str):
        """A top-level timed operation: every span and counter recorded
        inside it carries its op id."""
        self.op_id = self._next_op
        self._next_op += 1
        try:
            with self.span(f"op.{kind}") as s:
                yield s
        finally:
            self.op_id = None

    def inside(self, prefix: str) -> bool:
        return any(s.name.startswith(prefix) for s in self._stack)

    # -- wrapping ---------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function recording a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def wrap_counter(self, owner, attr: str, name: str, within: str = "") -> None:
        """Replace ``owner.attr`` by a function counting calls per op
        (only calls made under a span named ``within*`` when given)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op_id is not None and (not within or tracer.inside(within)):
                tracer.counters[name][tracer.op_id] += 1
            return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install_library_hooks(self) -> None:
        """Wrap the layers' public functions. Call before the session
        starts so ``session.get_spark`` is covered."""
        from pyspark.sql.readwriter import DataFrameReader

        import otterbrix_spark.engine as engine_mod
        import otterbrix_spark.session as session_mod
        from otterbrix_spark.catalog import Catalog
        from otterbrix_spark.operators.dml import ManagedTable
        from otterbrix_spark.sources.dynamic import DynamicTable

        self.wrap(session_mod, "get_spark", "session.start")
        self.wrap(engine_mod.Engine, "execute_sql", "engine")
        self.wrap(engine_mod.Engine, "from_df", "relation.from_df")
        self.wrap(engine_mod, "rewrite", "dialect.rewrite")
        self.wrap(Catalog, "route", "catalog.route")
        self.wrap(Catalog, "canonicalize", "catalog.canonicalize")
        self.wrap(Catalog, "persist_catalog_state", "catalog.persist")
        self.wrap(Catalog, "refresh_views", "catalog.refresh_views")
        self.wrap_counter(ManagedTable, "df", "dml.df_calls")
        for verb in ("insert", "update", "delete"):
            self.wrap(ManagedTable, verb, f"dml.{verb}")
        # UPDATE/DELETE swap through _swap_in -> stage + commit_staged;
        # a transaction's COMMIT calls the two phases directly
        self.wrap(ManagedTable, "stage", "dml.swap.stage")
        self.wrap(ManagedTable, "commit_staged", "dml.swap.commit")
        self.wrap(DynamicTable, "insert", "dynamic.insert")
        self.wrap(DynamicTable, "df", "dynamic.df")
        self.wrap(DynamicTable, "schema", "dynamic.schema")
        self.wrap_counter(
            DataFrameReader, "parquet", "dynamic.batch_reads", within="dynamic."
        )

    def hook_py4j(self, spark) -> None:
        """Count py4j round trips per op on the session's gateway client."""
        client = spark.sparkContext._gateway._gateway_client
        self.wrap_counter(client, "send_command", "py4j.calls")

    # -- derived numbers -------------------------------------------------------
    def total(self, prefix: str, *, self_time: bool = False, ops_only: bool = True) -> float:
        return sum(
            (s.self_s if self_time else s.duration)
            for s in self.spans
            if s.name.startswith(prefix) and (s.op_id is not None or not ops_only)
        )

    def counter_total(self, name: str) -> int:
        return sum(self.counters[name].values())

    def op_span_s(self, op_id: int, name: str) -> float:
        """Summed duration of the spans called ``name`` inside one op."""
        return sum(
            s.duration for s in self.spans
            if s.op_id == op_id and s.name == name
        )

    def dump(self, path) -> None:
        """Write the spans as JSON lines: name, start, end (seconds on the
        run's perf_counter clock), parent (line index or null), op id."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": index[id(s.parent)] if s.parent is not None else None,
                    "op": s.op_id,
                }) + "\n")

    def top_level_s(self) -> float:
        """Summed duration of the top-level op spans."""
        return sum(
            s.duration for s in self.spans
            if s.parent is None and s.name.startswith("op.")
        )

    def layer_share(self) -> float:
        """Share of the top-level op spans' time spent inside their direct
        child (layer) spans; what is left is time no layer span accounts for."""
        ops = [s for s in self.spans if s.parent is None and s.name.startswith("op.")]
        total = sum(s.duration for s in ops)
        return sum(s.children_s for s in ops) / total if total else 0.0
