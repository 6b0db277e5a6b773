"""Shared plumbing for the perfbench workloads: the per-run directory, the
Spark session, CPU/heap/GC probes, host-noise records and percentiles.

Everything a run writes lives under ``<checkout>/.perfbench_run/`` and is
removed when the run exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_BASE = ROOT / ".perfbench_run"

# ROADMAP aim 1: a run on a host with loadavg above cpus/2 or with more
# than 5% CPU steal is flagged, never silently dropped.
STEAL_FLAG = 0.05


def process_age_s() -> float:
    """Seconds since this process started, from /proc (covers interpreter
    start and imports, which a perf_counter taken in main() would miss)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def make_run_dir() -> Path:
    """A fresh directory for this run's tables, Spark scratch and temp
    files, removed at exit. Python's tempfile is pointed into it so no
    library default (``Engine()``'s mkdtemp) can leave files in /tmp."""
    RUN_BASE.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=RUN_BASE))
    atexit.register(shutil.rmtree, run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    return run_dir


# -- host noise ---------------------------------------------------------------


def _proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostRecord:
    """loadavg before/after, steal share over the run, and nproc."""

    def __init__(self) -> None:
        self.cpus = os.cpu_count() or 1
        self.load_before = os.getloadavg()[0]
        self._stat_before = _proc_stat()

    def finish(self) -> dict:
        load_after = os.getloadavg()[0]
        steal, total = _proc_stat()
        steal_share = (steal - self._stat_before[0]) / max(
            1, total - self._stat_before[1]
        )
        flags = []
        # only the load before the run is host noise: the run's own
        # local[cpus] executor raises the load it ends with
        if self.load_before > self.cpus / 2:
            flags.append("loaded")
        if steal_share > STEAL_FLAG:
            flags.append("stolen")
        return {
            "nproc": self.cpus,
            "loadavg_before": round(self.load_before, 2),
            "loadavg_after": round(load_after, 2),
            "steal_share": round(steal_share, 4),
            "flags": flags,
        }


# -- CPU of this process and everything it started ----------------------------


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its live
    descendants (the Spark JVM and any Python workers it forked), plus
    the CPU of reaped children."""
    hz = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / hz


# -- Spark ----------------------------------------------------------------------


def start_spark(run_dir: Path, cpus: int):
    """The benchmark's session: local[cpus], one shuffle width rule for
    every workload, all scratch inside the run directory."""
    from otterbrix_spark.session import get_spark

    local = run_dir / "spark-local"
    local.mkdir()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(local),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            # same split rule as bench.py at sf0.1 on few cores
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    t0 = time.perf_counter()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    log(f"perfbench: JVM stopped in {time.perf_counter() - t0:.2f} s")


def _mx(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time, all collectors."""
    return sum(
        b.getCollectionTime() for b in _mx(spark).getGarbageCollectorMXBeans()
    ) / 1000.0


def live_heap_mb(spark) -> float:
    """JVM heap in use right after ``System.gc()`` (live data, not peak
    RSS), read as the heap pools' usage at the end of the collection.

    The first collection only enqueues the weak references that Spark's
    context cleaner and the finalizers act on; the objects they release go
    in a later collection. So collect until the live size stops falling."""
    jvm = spark.sparkContext._jvm
    pools = [
        p for p in _mx(spark).getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ]
    live = None
    for _ in range(5):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        now = sum(
            p.getCollectionUsage().getUsed() for p in pools
            if p.getCollectionUsage() is not None
        )
        if live is not None and now >= live - (1 << 20):
            return now / (1 << 20)
        live = now
    return live / (1 << 20)


def cached_mb(spark) -> float:
    """Executor-cache bytes of every persisted RDD, from storage status."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


def dir_bytes(path) -> int:
    return sum(
        f.stat().st_size for f in Path(path).rglob("*") if f.is_file()
    )


def compacted_bytes(df, out_dir: Path) -> int:
    """Bytes of ``df`` written once as a single parquet file."""
    df.coalesce(1).write.parquet(str(out_dir))
    size = sum(f.stat().st_size for f in out_dir.glob("*.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    return size


# -- statistics -----------------------------------------------------------------


def percentile(samples: list[float], p: float) -> "float | None":
    """The p-quantile, reported only with at least 10 samples beyond it
    (p50 needs 20 samples, p90 needs 100); None otherwise."""
    n = len(samples)
    if n == 0 or n * (1 - p) < 10:
        return None
    ordered = sorted(samples)
    return ordered[min(n - 1, int(p * n))]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- ops and output checks --------------------------------------------------------


class Op:
    """One timed operation of a workload script.

    ``run()`` executes it and returns what the check needs. In a traced
    run, ``probe_df()`` (read ops) rebuilds the same plan for a noop-sink
    execution, and ``table`` + ``rows_changed`` (write ops) drive the
    directory diff; both happen outside the op's timing."""

    __slots__ = ("kind", "run", "unit", "probe_df", "table", "rows_changed")

    def __init__(self, kind, run, unit=None, probe_df=None, table=None,
                 rows_changed=0):
        self.kind = kind
        self.run = run
        self.unit = unit
        self.probe_df = probe_df
        self.table = table
        self.rows_changed = rows_changed


def compare(name, got_cols, got_rows, want_cols, want_rows) -> "str | None":
    """None when equal, else a one-line reason. Rows are canonicalised by
    the test battery's oracle comparison (``tests/oracle.py``), so the
    benchmark's check and the battery's cannot drift apart."""
    from tests.oracle import _canon

    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows != {len(want_rows)}"
    a, b = _canon(got_rows, got_cols), _canon(want_rows, want_cols)
    for x, y in zip(a, b):
        if x != y:
            return f"{name}: first mismatch {x!r} != {y!r}"
    return None
