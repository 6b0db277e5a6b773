"""Sessionization (batch gaps-and-islands + streaming applyInPandasWithState)
and bucketed-layout co-located joins."""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import functions as F

from otterbrix_spark.operators.sessionize import (
    session_stats,
    sessionize,
    streaming_sessionize,
)
from otterbrix_spark.sources.registry import load_table


def test_batch_sessionize_gaps(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session
        (1, base + dt.timedelta(minutes=50)),   # gap 40m -> new session
        (2, base),                               # other user
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, ts: timestamp_ntz")
    out = sessionize(df, gap_minutes=30).collect()
    got = {(r["user_id"], r["ts"].minute): r["session_seq"] for r in out}
    assert got == {(1, 0): 0, (1, 10): 0, (1, 50): 1, (2, 0): 0}


def test_session_stats_on_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    stats = session_stats(ev, gap_minutes=30)
    row = stats.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
    ).collect()[0]
    assert row["total_events"] == ev.count()
    assert 0 < row["n_sessions"] <= row["total_events"]
    # sessions respect the gap: no session has duration implying a >30m gap
    # with fewer than 2 events
    bad = stats.filter((F.col("n_events") == 1) & (F.col("duration_us") > 0)).count()
    assert bad == 0


def test_streaming_sessionize_closes_sessions(spark, sf_dir):
    from otterbrix_spark.streaming import events_stream, run_available_now

    stream = events_stream(spark, sf_dir)
    sessions = streaming_sessionize(stream, gap_minutes=30)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    result = run_available_now(sessions, name, output_mode="append")

    # closed streaming sessions must agree with the batch sessionization
    # (batch has the final open session per user too; the streaming append
    # output holds only closed ones => subset with identical stats)
    batch = session_stats(load_table(spark, sf_dir, "events"), gap_minutes=30)
    batch_map = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["start_us"], r["end_us"])
        for r in batch.collect()
    }
    stream_rows = result.collect()
    assert len(stream_rows) > 0
    for r in stream_rows:
        assert batch_map[(r["user_id"], r["session_seq"])] == (
            r["n_events"], r["start_us"], r["end_us"],
        ), (r["user_id"], r["session_seq"])


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from otterbrix_spark.sources.layout import colocated_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    suffix = uuid.uuid4().hex[:8]
    t1, t2 = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    write_bucketed(orders, t1, "o_orderkey", n_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), t2, "o_orderkey", n_buckets=8
    )
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle path (at test scale broadcast would win) so the
        # assertion shows bucketing removing the hash-partition exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, t1, t2, "o_orderkey")
        rows = joined.collect()
        assert len(rows) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_native_session_window_agrees_with_custom(spark, sf_dir):
    """Spark's built-in session_window (gap-merged event-time sessions) must
    produce the same session boundaries as the custom gaps-and-islands
    operator — two independent implementations cross-checking each other."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events", F.col("session_window.start").alias("start"))
    )
    custom = session_stats(ev, gap_minutes=30)
    a = sorted((r["user_id"], r["n_events"]) for r in native.collect())
    b = sorted((r["user_id"], r["n_events"]) for r in custom.collect())
    assert a == b


def test_zordered_write_prunes_files(spark, sf_dir, tmp_path):
    """write_zordered's PHYSICAL claim: the parquet files it writes carry
    min/max footer statistics on both clustered dimensions tight enough
    that a rectangle predicate prunes most files — and the same data
    written in natural order does not."""
    import pyarrow.parquet as pq

    from otterbrix_spark.sources.layout import write_zordered

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 64).alias("a"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 64).alias("b"),
    )
    zpath = str(tmp_path / "zord")
    lpath = str(tmp_path / "linear")
    write_zordered(orders, zpath, "a", "b", n_files=16)
    orders.repartitionByRange(16, "o_orderkey").write.mode(
        "overwrite"
    ).parquet(lpath)

    def files_scanned(path: str) -> tuple[int, int]:
        scanned = total = 0
        for f in Path(path).glob("part-*.parquet"):
            md = pq.read_metadata(f)
            mina = minb = 1 << 30
            maxa = maxb = -(1 << 30)
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if name not in ("a", "b") or col.statistics is None:
                        continue
                    lo, hi = col.statistics.min, col.statistics.max
                    if name == "a":
                        mina, maxa = min(mina, lo), max(maxa, hi)
                    else:
                        minb, maxb = min(minb, lo), max(maxb, hi)
            total += 1
            if mina <= 23 and maxa >= 8 and minb <= 31 and maxb >= 16:
                scanned += 1
        return scanned, total

    z_scanned, z_total = files_scanned(zpath)
    l_scanned, l_total = files_scanned(lpath)
    assert z_total >= 8 and l_total >= 8
    # natural order is uncorrelated with (a, b): every file survives
    assert l_scanned == l_total
    # the z-ordered layout must prune at least half the files
    assert z_scanned * 2 <= z_total, (z_scanned, z_total)


def test_persist_clustered_layout(spark, sf_dir):
    """The CLUSTER_KEYS cache layout: (1) idempotent — a second call
    reuses the same DataFrame instances instead of persisting duplicate
    copies; (2) the cached fact relations are widened to the cluster
    width (max of shuffle width and core count) — a sub-128MB parquet
    file otherwise caches as ONE partition and every consumer stage runs
    single-threaded (the measured win); since the round-13 optimization
    pass the cached plans are compiled AQE-off so consumers also SEE the
    HashPartitioning and elide their exchanges (asserted in
    test_cache_partitioning_elides_exchange below); (3) results are
    layout-independent."""
    from otterbrix_spark.sources import registry
    from otterbrix_spark.sources.registry import (
        drop_table_cache, load_table, persist_clustered,
    )

    try:
        baseline = {
            t: load_table(spark, sf_dir, t).rdd.getNumPartitions()
            for t in registry.CLUSTER_KEYS
        }
        drop_table_cache(spark)

        persist_clustered(spark, sf_dir)
        first = {t: load_table(spark, sf_dir, t) for t in registry.CLUSTER_KEYS}
        persist_clustered(spark, sf_dir)  # idempotent: same instances back
        for t, df in first.items():
            assert load_table(spark, sf_dir, t) is df, t
            # round-14: widths are PER TABLE — compute-dense tables keep
            # the base width, relational tables are bounded by row count,
            # joined pairs (lineitem/orders) share one width
            assert df.rdd.getNumPartitions() == registry._cluster_width(
                spark, sf_dir, t
            ), t
        # compute-dense tables keep the full base width however small
        base = registry._cluster_width(spark)
        for t in registry._COMPUTE_DENSE:
            assert registry._cluster_width(spark, sf_dir, t) == base, t
        # joined pairs share a width (co-partitioned join elision)
        assert registry._cluster_width(
            spark, sf_dir, "lineitem"
        ) == registry._cluster_width(spark, sf_dir, "orders")
        # the widening is real: the raw scans were narrower than the
        # clustered width (that is the single-threaded-cache hazard)
        assert any(
            baseline[t] < registry._cluster_width(spark, sf_dir, t)
            for t in registry.CLUSTER_KEYS
        ), baseline

        # layout-independence: same sessionize result either way
        from otterbrix_spark.operators.sessionize import session_stats

        ev = load_table(spark, sf_dir, "events")
        clustered_rows = sorted(
            tuple(r) for r in session_stats(ev, gap_minutes=30).collect()
        )
        spark.catalog.clearCache()
        drop_table_cache(spark)
        plain = load_table(spark, sf_dir, "events")
        plain_rows = sorted(
            tuple(r) for r in session_stats(plain, gap_minutes=30).collect()
        )
        assert clustered_rows == plain_rows
    finally:
        spark.catalog.clearCache()
        registry.drop_table_cache(spark)


def test_cluster_width_of_nested_directory_is_base(spark, tmp_path):
    """A table directory whose part files sit in a subdirectory has an
    unknown size, not zero rows: the cache keeps the base width instead
    of collapsing to one partition."""
    from otterbrix_spark.sources import registry

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    nested = tmp_path / "nested"
    spark.range(100).coalesce(1).write.parquet(
        str(nested / "customer.parquet" / "day=1")
    )
    assert registry._table_rows(str(tmp_path), "customer") == 100
    assert registry._table_rows(str(nested), "customer") is None
    assert registry._cluster_width(spark, str(nested), "customer") == (
        registry._cluster_width(spark)
    )


def test_cache_partitioning_elides_exchange(spark, sf_dir):
    """Round-13 optimization: cached plans are compiled AQE-off so
    InMemoryTableScan reports hashpartitioning(key, width) and consumers
    elide their ENSURE_REQUIREMENTS exchanges.

    Three properties: (1) a window/groupBy keyed on the cluster key adds
    NO exchange above the cached scan; (2) llm.dedup._fan_out skips its
    guard repartition for a clustered documents cache (the minhash
    signature path is then shuffle-free); (3) consumer queries still run
    under AQE (the toggle is restored)."""
    from otterbrix_spark.llm import dedup
    from otterbrix_spark.sources import registry
    from otterbrix_spark.sources.registry import drop_table_cache, load_table, persist_clustered

    try:
        drop_table_cache(spark)
        spark.catalog.clearCache()
        persist_clustered(spark, sf_dir)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"  # (3)

        def physical(df):
            return df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )

        # (1) groupBy on the cluster key: the only exchange in the plan is
        # the pinned REPARTITION_BY_NUM inside the cached relation
        ev = load_table(spark, sf_dir, "events")
        plan = physical(ev.groupBy("user_id").count())
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        assert "InMemoryTableScan" in plan, plan

        # (2) the signature path is shuffle-free off the clustered cache
        docs = load_table(spark, sf_dir, "documents")
        sh = dedup.shingles(docs, distinct=False)
        sig = dedup.minhash_signature_str(sh)
        plan = physical(sig)
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        assert plan.count("REPARTITION_BY_NUM") == 1, plan  # only inside the cache

        # and the layout does not change results: signatures match the
        # un-cached path
        clustered_rows = sorted(tuple(r) for r in sig.collect())
        spark.catalog.clearCache()
        drop_table_cache(spark)
        plain_docs = load_table(spark, sf_dir, "documents")
        plain_rows = sorted(
            tuple(r)
            for r in dedup.minhash_signature_str(
                dedup.shingles(plain_docs, distinct=False)
            ).collect()
        )
        assert clustered_rows == plain_rows
    finally:
        spark.catalog.clearCache()
        registry.drop_table_cache(spark)
