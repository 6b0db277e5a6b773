#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of otterbrix_spark.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One process drives one closed-loop client. A run sets up (JVM, session,
preload, warm-up: ``setup_s``), executes a fixed script generated from
``--seed`` and sized by ``--seconds``, checks every output outside the
timed phase, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
the traced run (``--trace 1``). The line before it is the run record: host
noise (loadavg, steal, nproc, flags), every end-to-end metric including
the workload-specific ones, and the first check failures. See
perfbench/README.md for the workloads, metrics and steadiness figures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
from harness import log  # noqa: E402

WORKLOADS = ("olap_headline", "oltp_statements")
# the synthetic star-schema corpus the repository benches on (see TESTDATA.md)
DEFAULT_CORPUS = str(Path.home() / "testdata" / "sf0.1")

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "read_p50_s": "s",
    "live_heap_mb": "MB",
}
# reported on the run record for the workloads they apply to
E2E_EXTRA = {
    "read_p90_s": "s",
    "write_p50_s": "s",
    "write_p90_s": "s",
    "update_p50_s": "s",
    "ingest_rows_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.persist_s": "s",
    "registry.cached_mb": "MB",
    "workload.build_s": "s",
    "py4j.calls_per_op": "count",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_mb_per_op": "MB",
    "spark.failed_tasks": "count",
    "cursor.fetch_s": "s",
    "engine.self_s": "s",
    "dialect.rewrite_s": "s",
    "catalog.route_s": "s",
    "catalog.canonicalize_s": "s",
    "catalog.persist_s": "s",
    "catalog.refresh_views_s": "s",
    "dml.df_calls_per_op": "count",
    "dml.swap_s": "s",
    "dml.rewrite_amplification": "ratio",
    "dml.files_per_table": "count",
    "dynamic.insert_s": "s",
    "dynamic.df_s": "s",
    "dynamic.batch_reads_per_op": "count",
    "dynamic.batches": "count",
    "relation.from_df_s": "s",
    "storage.bytes_written_per_user_byte": "ratio",
    "jvm.gc_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.overhead_s_per_op": "s",
    "trace.span_coverage": "ratio",
    "trace.layer_coverage": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", default=DEFAULT_CORPUS,
                    help="directory of the synthetic parquet corpus")
    return ap.parse_args(argv)


def preflight(args) -> "str | None":
    """Why this checkout cannot run the benchmark, or None."""
    sys.path.insert(0, str(harness.ROOT))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import otterbrix_spark  # noqa: F401
    except ImportError as exc:
        return f"cannot import the engine or its dependencies: {exc}"
    if not (Path(args.corpus) / "orders.parquet").exists():
        return f"corpus not found: {args.corpus}"
    return None


def make_workload(name, ctx):
    if name == "olap_headline":
        from olap_headline import OlapHeadline as cls
    else:
        from oltp_statements import OltpStatements as cls
    return cls(ctx)


# -- traced-run probes (outside every op's timing) --------------------------------


class Probes:
    """Per-op Spark statistics, noop-sink executions and directory diffs."""

    def __init__(self, spark):
        self.spark = spark
        self.jobs = self.tasks = self.failed_tasks = 0
        self.shuffle_bytes = 0
        self.exec_s: list[float] = []
        self.fetch_minus_exec: list[float] = []
        self.new_rows = self.rows_changed = 0
        self.new_bytes = self.user_bytes = 0.0
        self.seconds = 0.0

    def group_stats(self, group: str) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is None:
                    continue
                self.tasks += si.numTasks
                self.failed_tasks += si.numFailedTasks
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
                for i in range(attempts.size()):
                    self.shuffle_bytes += attempts.apply(i).shuffleWriteBytes()

    def noop_exec(self, df, fetch_s: float) -> None:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        self.exec_s.append(took)
        self.fetch_minus_exec.append(fetch_s - took)

    @staticmethod
    def snapshot(table: Path) -> dict:
        return {
            str(f): f.stat().st_ino
            for f in table.rglob("*.parquet") if f.is_file()
        } if table.exists() else {}

    def diff(self, table: Path, before: dict, rows_changed: int) -> None:
        import pyarrow.parquet as pq

        after = self.snapshot(table)
        rows_total = bytes_total = 0
        for path in after:
            p = Path(path)
            n, size = pq.ParquetFile(p).metadata.num_rows, p.stat().st_size
            rows_total += n
            bytes_total += size
            if before.get(path) != after[path]:
                self.new_rows += n
                self.new_bytes += size
        self.rows_changed += rows_changed
        if rows_total:
            self.user_bytes += rows_changed * bytes_total / rows_total


# -- one run ---------------------------------------------------------------------


def run_one(args) -> int:
    from spans import NullTracer, Tracer

    host = harness.HostRecord()
    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        tracer.install_library_hooks()
    run_dir = harness.make_run_dir()
    ctx = SimpleNamespace(
        spark=None, run_dir=run_dir, corpus=os.path.abspath(args.corpus),
        seed=args.seed, seconds=args.seconds, tracer=tracer, layer={},
    )
    spark = ctx.spark = harness.start_spark(run_dir, os.cpu_count() or 1)
    try:
        return _measure(args, ctx, host)
    finally:
        harness.stop_spark(spark)


def _measure(args, ctx, host) -> int:
    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    wl = make_workload(args.workload, ctx)
    t0 = harness.process_age_s()
    wl.setup()
    log(f"perfbench: session ready at {t0:.2f} s, workload set-up "
        f"{harness.process_age_s() - t0:.2f} s")
    ops = wl.script()
    probes = Probes(spark) if tracer.enabled else None
    if tracer.enabled:
        tracer.hook_py4j(spark)

    samples: dict[str, list[float]] = {}
    unit_s: dict = {}
    results: list = []
    failed_ops = 0
    errors: list[str] = []
    setup_s = harness.process_age_s()
    gc0, cpu0 = harness.gc_seconds(spark), harness.tree_cpu_s()
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        if probes is not None:
            p0 = time.perf_counter()
            sc.setJobGroup(f"perfbench-op-{i}", op.kind)
            before = probes.snapshot(op.table) if op.table else None
            probes.seconds += time.perf_counter() - p0
        t0 = time.perf_counter()
        try:
            with tracer.op(op.kind):
                out = op.run()
        except Exception as exc:
            out = None
            failed_ops += 1
            errors.append(f"op {i} ({op.kind}): {type(exc).__name__}: {str(exc)[:200]}")
            log(traceback.format_exc(limit=3))
        took = time.perf_counter() - t0
        results.append(out)
        samples.setdefault(op.kind, []).append(took)
        if op.unit is not None:
            unit_s[(op.kind, op.unit)] = unit_s.get((op.kind, op.unit), 0.0) + took
        if probes is not None:
            p0 = time.perf_counter()
            sc.setJobGroup("perfbench-probe", "probe")
            probes.group_stats(f"perfbench-op-{i}")
            if op.probe_df is not None and out is not None:
                fetch = tracer.op_span_s(i, "cursor.fetch")
                probes.noop_exec(op.probe_df(), fetch)
            if op.table is not None:
                probes.diff(op.table, before, op.rows_changed)
            probes.seconds += time.perf_counter() - p0
    wall = time.perf_counter() - t_start - (probes.seconds if probes else 0.0)
    cpu = harness.tree_cpu_s() - cpu0
    gc_s = harness.gc_seconds(spark) - gc0
    heap = harness.live_heap_mb(spark)

    t_check = harness.process_age_s()
    check_errors = wl.check(results)
    errors += check_errors
    failed = failed_ops + len(check_errors)
    t_finish = harness.process_age_s()
    extra = wl.finish(samples)
    log(f"perfbench: timed phase ended at {t_check:.2f} s, checks "
        f"{t_finish - t_check:.2f} s, finish {harness.process_age_s() - t_finish:.2f} s")

    n = len(ops)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": n / wall,
        "cpu_s_per_op": cpu / n,
        "read_p50_s": statistics.median(unit_s.values()),
        "live_heap_mb": heap,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "timed_wall_s": round(wall, 4),
        "samples": {k: len(v) for k, v in samples.items()},
        "read_units": len(unit_s),
        "host": host.finish(),
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "errors": errors[:5],
    }
    for name, unit in E2E_EXTRA.items():
        if name in extra:
            value = extra[name]
            record["end_to_end"][name] = {"value": value, "unit": unit}
            if value is None:
                record["end_to_end"][name]["note"] = "too few samples for this percentile"
    if record["host"]["flags"]:
        log(f"perfbench: host flags {record['host']['flags']} on this run")
    if tracer.enabled:
        spans = harness.RUN_BASE / f"spans-{args.workload}-seed{args.seed}.jsonl"
        tracer.dump(spans)
        record["spans"] = str(spans.relative_to(harness.ROOT))
        metrics = layer_metrics(ctx, tracer, probes, n, wall, gc_s)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": n, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(ctx, tracer, probes, n, wall, gc_s) -> dict:
    reads = max(1, len(probes.exec_s))
    per_op = lambda prefix, **kw: tracer.total(prefix, **kw) / n  # noqa: E731
    values = {
        "session.start_s": tracer.total("session.start", ops_only=False),
        "registry.persist_s": tracer.total("registry.persist", ops_only=False),
        "registry.cached_mb": ctx.layer.get("registry.cached_mb", 0.0),
        "workload.build_s": per_op("workload.build"),
        "py4j.calls_per_op": tracer.counter_total("py4j.calls") / n,
        "catalyst.plan_s": per_op("catalyst.plan"),
        "spark.exec_s": sum(probes.exec_s) / reads,
        "spark.jobs_per_op": probes.jobs / n,
        "spark.tasks_per_op": probes.tasks / n,
        "spark.shuffle_mb_per_op": probes.shuffle_bytes / (1 << 20) / n,
        "spark.failed_tasks": probes.failed_tasks,
        "cursor.fetch_s": sum(probes.fetch_minus_exec) / reads,
        "engine.self_s": per_op("engine", self_time=True),
        "dialect.rewrite_s": per_op("dialect.rewrite"),
        "catalog.route_s": per_op("catalog.route", self_time=True),
        "catalog.canonicalize_s": per_op("catalog.canonicalize"),
        "catalog.persist_s": per_op("catalog.persist"),
        "catalog.refresh_views_s": per_op("catalog.refresh_views"),
        "dml.df_calls_per_op": tracer.counter_total("dml.df_calls") / n,
        "dml.swap_s": per_op("dml.swap"),
        "dml.rewrite_amplification":
            probes.new_rows / probes.rows_changed if probes.rows_changed else 0.0,
        "dml.files_per_table": ctx.layer.get("dml.files_per_table", 0),
        "dynamic.insert_s": per_op("dynamic.insert"),
        "dynamic.df_s": per_op("dynamic.df"),
        "dynamic.batch_reads_per_op": tracer.counter_total("dynamic.batch_reads") / n,
        "dynamic.batches": ctx.layer.get("dynamic.batches", 0),
        "relation.from_df_s": per_op("relation.from_df"),
        "storage.bytes_written_per_user_byte":
            probes.new_bytes / probes.user_bytes if probes.user_bytes else 0.0,
        "jvm.gc_s": gc_s,
        "trace.ops_per_s": n / wall,
        "trace.overhead_s_per_op": tracer.overhead_s / n,
        "trace.span_coverage": tracer.top_level_s() / wall,
        "trace.layer_coverage": tracer.layer_share(),
    }
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}


# -- all workloads ---------------------------------------------------------------


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process; prints
    one summary line per workload and the tracing overhead."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--corpus", args.corpus]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                log(proc.stderr[-2000:])
                log(f"perfbench: {name} --trace {trace} failed")
                return 1
            out[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        record, result = out[0]
        traced = out[1][1]["metrics"]
        overhead = 1 - traced["trace.ops_per_s"]["value"] / result["metrics"]["ops_per_s"]["value"]
        print(json.dumps({
            "workload": name, "host": record["host"],
            "end_to_end": record["end_to_end"],
            "per_layer": traced,
            "trace_overhead_share": overhead,
        }))
        combined["correct"] &= result["correct"] and out[1][1]["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in record["end_to_end"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = preflight(args)
    if problem is not None:
        log(f"perfbench: {problem}")
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
