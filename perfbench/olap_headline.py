"""``olap_headline``: the 12 ``bench=True`` registry gates, run through
``spark_fn(...).collect()`` over the clustered executor cache, in
fixed-order whole passes. The read unit is one 12-query pass."""

from __future__ import annotations

from harness import Op, cached_mb, compare
from tests.oracle import _duck_result

# a 12-query pass takes about 9.5 s at sf0.1 on 4 cores
PASS_SECONDS = 10.0


class OlapHeadline:
    name = "olap_headline"

    def __init__(self, ctx):
        self.ctx = ctx
        self.specs = []

    def setup(self) -> None:
        from otterbrix_spark.sources.registry import persist_clustered
        from otterbrix_spark.workload import load_all

        ctx = self.ctx
        self.specs = [s for _, s in sorted(load_all().items()) if s.bench]
        # the first pass over the persisted corpus materialises the cache;
        # it is the warm-up pass too (JIT, AQE statistics, footers)
        with ctx.tracer.span("registry.persist"):
            persist_clustered(ctx.spark, ctx.corpus)
            for spec in self.specs:
                spec.spark_fn(ctx.spark, ctx.corpus).collect()
        ctx.layer["registry.cached_mb"] = cached_mb(ctx.spark)

    def script(self) -> list[Op]:
        passes = max(1, round(self.ctx.seconds / PASS_SECONDS))
        return [
            Op("query", self._runner(spec), unit=p,
               probe_df=self._builder(spec))
            for p in range(passes)
            for spec in self.specs
        ]

    def _builder(self, spec):
        ctx = self.ctx
        return lambda: spec.spark_fn(ctx.spark, ctx.corpus)

    def _runner(self, spec):
        ctx = self.ctx

        def run():
            with ctx.tracer.span("workload.build"):
                df = spec.spark_fn(ctx.spark, ctx.corpus)
            if ctx.tracer.enabled:
                with ctx.tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with ctx.tracer.span("cursor.fetch"):
                rows = df.collect()
            return spec.name, df.columns, [tuple(r) for r in rows]

        return run

    def check(self, results: list) -> list[str]:
        """Each query's rows against the registry's DuckDB oracle SQL."""
        oracle = {}
        errors = []
        for res in results:
            if res is None:
                continue
            name, cols, rows = res
            if name not in oracle:
                spec = next(s for s in self.specs if s.name == name)
                oracle[name] = _duck_result(self.ctx.corpus, spec.oracle)
            err = compare(name, cols, rows, *oracle[name])
            if err:
                errors.append(err)
        return errors

    def finish(self, samples: dict) -> dict:
        return {}
