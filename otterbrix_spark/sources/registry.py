"""Parquet source registry for the synthetic TPC-H-ish test corpus.

Mirrors the reference's scan surface (full_scan / transfer_scan /
raw-data sources — reference `components/physical_plan/operators/scan/
full_scan.hpp:12-50`) on Spark's DataFrame reader, where filter and
column pushdown into the parquet scan are automatic (visible as
``PushedFilters`` / ``ReadSchema`` in ``df.explain``).

Scale notes: reads are plain ``spark.read.parquet`` — on a cluster these
split by row-group into tasks; no driver-side materialisation happens
here. The only special case is the ``events`` table, whose ``ts``
column has appeared in three physical forms across generator versions —
int64 epoch-nanos (scanned as ``bigint`` under
``spark.sql.legacy.parquet.nanosAsLong=true``), ``timestamp[us]``
(surfacing as ``timestamp_ntz``), and plain ``timestamp`` —
``normalize_event_ts`` branches on the observed type (and, for longs, on
epoch magnitude) and lands every form on a session-UTC ``timestamp``
column. Still a pure column projection, fully pushdown-friendly.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins at any
# scale factor (region: 5 rows, nation: 25 rows — fixed-size in TPC-H).
BROADCAST_TABLES = {"region", "nation"}


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Land the events ``ts`` column on a session-UTC ``timestamp`` whatever
    the physical source form was.

    Branches (checked in this order):
      * ``bigint`` — an epoch integer; the unit is decided per-row by
        magnitude (2024 epochs: nanos ~1.7e18, micros ~1.7e15, millis
        ~1.7e12, seconds ~1.7e9). Integer ``DIV``, never ``floor(x/1e3)``:
        double division loses precision above 2^53.
      * ``timestamp_ntz`` — cast to ``timestamp`` (exact under the
        session's UTC zone).
      * ``timestamp`` — already normal.

    Works identically on batch and streaming frames (pure column
    expressions, no data-dependent driver logic), so both ingest seams —
    ``_load_table_uncached`` and ``streaming.pipeline.events_stream`` —
    share it.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None or dtype.startswith("timestamp_ntz"):
        if dtype is None:
            return df
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "bigint":
        c = F.col(col)
        micros = (
            F.when(c >= F.lit(10**17), F.expr(f"{col} DIV 1000"))
            .when(c >= F.lit(10**14), c)
            .when(c >= F.lit(10**11), c * F.lit(1000))
            .otherwise(c * F.lit(1_000_000))
        )
        return df.withColumn(col, F.timestamp_micros(micros))
    return df


def _events_arrow_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Load events via pyarrow when the session cannot scan nano timestamps.

    Test-scale fallback only (documents why: a production deployment would
    land microsecond parquet; the fallback keeps the engine usable on a
    session whose `nanosAsLong` conf is static/frozen).
    """
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    schema = table.schema
    import pyarrow as pa

    fields = []
    for field in schema:
        if pa.types.is_timestamp(field.type):
            fields.append(field.with_type(pa.timestamp("us")))
        else:
            fields.append(field)
    table = table.cast(pa.schema(fields))
    return spark.createDataFrame(table.to_pandas())


# Per-session DataFrame cache: repeated load_table calls (bench iterations,
# multi-query workloads) reuse one analyzed relation per (sf_dir, table)
# instead of re-listing files and re-reading parquet footers every call.
# DataFrames are immutable, so sharing is safe; keyed weakly on the session
# so a stopped session's entries are collectable.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def drop_table_cache(spark: SparkSession) -> None:
    """Forget the per-session analyzed relations for ``spark``. Used by
    measurement harnesses (scaling probe) after ``clearCache()``: the
    cached DataFrame HANDLES would otherwise silently re-cache persisted
    relations on next use, re-polluting a deliberately cold run."""
    _TABLE_CACHE.pop(spark, None)


def _cache_key(sf_dir: str, name: str) -> tuple:
    """Cache key incl. the source's mtime: a corpus regenerated into the
    same directory mid-session must MISS (the old analyzed relation's
    file index points at replaced part-files — self-review r13 pass 3)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    try:
        stamp = os.stat(path).st_mtime_ns
    except OSError:
        stamp = 0
    return (path, stamp)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalises the events timestamp column."""
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = _cache_key(sf_dir, name)
    if key in per_session:
        return per_session[key]
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    try:
        df = spark.read.parquet(path)
    except Exception:
        return _events_arrow_fallback(spark, path)
    return normalize_event_ts(df)


# Physical layout policy for the warm/cached corpus: each fact table is
# hash-clustered on its dominant join/grouping key before persisting.
# What this buys, measured honestly:
#
# 1. CACHE PARALLELISM: a single parquet file under the 128MB split size
#    caches as ONE partition — every stage reading that cache then runs
#    single-threaded. The repartition widens the cached relation; at
#    sf0.1 warm best-of-3 (round 12) this was q05 1.12→0.35s,
#    q04 0.48→0.21s, q46 0.34→0.14s, s01 0.67→0.44s.
# 2. EXCHANGE ELISION (round-13 optimization pass): the KEY choice
#    mirrors the on-disk `bucketBy` layout a 100 TB deployment writes
#    once (sources/layout.py) — and, since the cached plans are now
#    compiled with AQE OFF (see persist_clustered), consumers actually
#    SEE the HashPartitioning and elide their ENSURE_REQUIREMENTS
#    exchanges. Verified on Spark 4.1: an AQE-compiled cached plan
#    reports UnknownPartitioning (AdaptiveSparkPlan isFinalPlan=false
#    cannot promise a partitioning before execution), so the sessionize
#    window re-shuffled events by user_id and co-clustered joins
#    re-shuffled both sides; the same plans compiled with AQE disabled
#    report hashpartitioning(key, width) and the downstream Exchange
#    nodes disappear (plans/r13/*_after.txt). AQE stays ON for every
#    consumer query — only the cached subtree (scan + one pinned
#    REPARTITION_BY_NUM, where AQE had nothing to adapt) is compiled
#    without it.
CLUSTER_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    # documents: the dedup/text family fans documents out by doc_id
    # before CPU-heavy shingle/token explodes (llm/dedup.py) and
    # aggregates the exploded rows back by doc_id — clustering the
    # cache on doc_id lets both the fan-out repartition and the
    # signature groupBy exchange elide (d04 becomes shuffle-free).
    "documents": "doc_id",
    # embeddings: sub-split-size parquet caches as ONE partition, so the
    # ANN family's dot-product scoring (e01 brute force: corpus ×
    # broadcast queries × 128-dim folds) ran single-threaded off the
    # warm cache; clustering by vec_id is purely for scan parallelism.
    "embeddings": "vec_id",
}


# Tables whose cached scan FEEDS heavy per-row compute (ANN dot-product
# folds off embeddings, shingle/token explodes off documents): however few
# rows they hold, their cache keeps the full machine width so the compute
# stage uses every core (and llm/dedup._fan_out can skip its guard
# shuffle). Pure relational tables take the size-derived width below.
_COMPUTE_DENSE = {"documents", "embeddings"}
# Joined pairs must SHARE a width: co-partitioned join elision requires
# hashpartitioning with equal partition counts on both sides.
_WIDTH_TIES = {"lineitem": "orders", "orders": "lineitem"}
# Target rows per cached partition for relational tables — small enough
# that every realistic corpus still spreads, large enough that a tiny
# table does not pay one task launch per few hundred rows.
_ROWS_PER_CACHE_PARTITION = 8192


def _table_rows(sf_dir: str, name: str) -> int | None:
    """Row count from the parquet FOOTER (driver metadata read, no data
    scan); None when unreadable or 0 — a directory whose part files sit
    in nested or odd subdirectories globs to nothing, and its size is
    unknown, not empty — so the caller falls back to the base width."""
    import glob as _glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            rows = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in _glob.glob(os.path.join(path, "*.parquet"))
            )
        else:
            rows = pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None
    return rows or None


def _cluster_width(
    spark: SparkSession, sf_dir: str | None = None, name: str | None = None
) -> int:
    """Partition count for the clustered cache.

    Base width: at least the session's shuffle width (so co-partitioned
    joins can elide exchanges under the same width) and at least the core
    count (so cache scans use the whole machine). Round-14 (VERDICT r13
    #3): relational tables are additionally BOUNDED BY SIZE — a 100k-row
    events table cached at 32 partitions made every consumer pay ~3k-row
    task launches (the measured d01/j01 headline regressions); width is
    now min(base, rows / _ROWS_PER_CACHE_PARTITION), tied across joined
    pairs, with compute-dense tables pinned at base. Scale-adaptive in
    both directions: at cluster scale the row bound exceeds the base for
    every fact table and the rule self-neutralizes."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    base = max(shuffle, spark.sparkContext.defaultParallelism)
    if sf_dir is None or name is None or name in _COMPUTE_DENSE:
        return base
    rows = _table_rows(sf_dir, name)
    other = _WIDTH_TIES.get(name)
    if other is not None:
        counts = [r for r in (rows, _table_rows(sf_dir, other)) if r is not None]
        rows = max(counts) if counts else None
    if rows is None:
        return base
    return max(1, min(base, rows // _ROWS_PER_CACHE_PARTITION))


def persist_clustered(spark: SparkSession, sf_dir: str) -> None:
    """Persist the corpus with the CLUSTER_KEYS layout.

    Replaces the per-session analyzed-relation cache entries so every
    subsequent ``load_table`` (and therefore every registry gate) reuses
    the clustered persisted relations. Clustered frames carry
    ``_otx_clustered_key = (key, width)`` so downstream operators that
    would otherwise fan out by the same key (llm/dedup.py) can skip
    their guard repartition. Results are layout-independent; only
    Exchange placement changes.

    The cached plans are compiled with AQE disabled (conf toggled around
    the DataFrame construction + persist) so InMemoryTableScan reports
    hashpartitioning(key, width) instead of UnknownPartitioning and
    consumers elide their exchanges — see the CLUSTER_KEYS comment. The
    toggle is restored in a finally block; consumer queries keep full
    AQE.

    CONCURRENCY (ADVICE r13): the toggle mutates the session-global conf,
    so any query PLANNED on another thread during this call would compile
    AQE-off. All in-tree callers (bench setup, measurement harnesses)
    invoke this from sequential setup code before any worker threads
    start; callers adding concurrent planning must either call this first
    or plan in a cloned session (spark.newSession()).
    """
    from pyspark import StorageLevel

    per_session = _TABLE_CACHE.setdefault(spark, {})
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for name in TABLES:
            cache_key = _cache_key(sf_dir, name)
            # idempotent: a second call must NOT build fresh DataFrame
            # instances (each would persist its own copy in the executor
            # cache alongside the first)
            existing = per_session.get(cache_key)
            if existing is not None and getattr(existing, "_otx_clustered", False):
                if existing.storageLevel == StorageLevel.NONE:
                    # clearCache() unpersisted the relation behind the
                    # flag — re-persist the SAME instance (no duplicate
                    # executor copy; self-review r13 pass 3)
                    existing.persist()
                continue
            df = _load_table_uncached(spark, sf_dir, name)
            key = CLUSTER_KEYS.get(name)
            if key is not None:
                width = _cluster_width(spark, sf_dir, name)
                df = df.repartition(width, key)
                df._otx_clustered_key = (key, width)
            df._otx_clustered = True
            per_session[cache_key] = df
            df.persist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every corpus table as a temp view; returns the frames."""
    frames = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        frames[name] = df
    return frames
