"""Oracle-gated STREAMING queries: each gate executes a real Structured
Streaming pipeline (file source -> event-time windows/watermark -> memory
sink, `availableNow` trigger) and is certified against the same DuckDB
batch SQL as every batch gate — the streaming graph must reproduce the
batch answer over the same corpus bit-for-bit.

This is the round-4 "streaming correctness certification": the reference's
streaming is micro-batch pipelining of ordinary queries (SURVEY.md §2.11;
reference `components/physical_plan/operators/operator.hpp:149-158`
pipeline roles), so batch-equivalence over a bounded corpus is exactly its
correctness contract. Watermarks only ever DROP data that arrives later
than the bound; with `availableNow` over a static corpus nothing is late,
so the streaming result must equal the batch aggregate.

Scale notes: the gate runs the identical graph a production deployment
would run against a landing directory — file-split micro-batches, state in
the state store, partial+final hash aggregation per window. Nothing here
collects to the driver beyond the memory sink the driver itself reads.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.streaming.pipeline import (
    events_stream,
    hourly_rollup_stream,
    run_available_now,
    run_until_count,
)
from otterbrix_spark.workload import query

# Hourly event-time rollup: counts + quantised value sums per
# (hour, event_type). The oracle is the batch formulation over the same
# parquet — identical to the streaming graph's semantics because the
# availableNow run sees the whole (bounded) corpus before any watermark
# could expire a window.
_S03_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS total_value
FROM events
GROUP BY 1, 2
"""


@query(
    "s03_streaming_hourly_rollup", _S03_ORACLE,
    doc="streaming certification: event-time hourly rollup with watermark, "
        "availableNow over the corpus, hash-matched against the batch SQL",
)
def s03(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    rollup = hourly_rollup_stream(stream)
    name = f"s03_rollup_{uuid.uuid4().hex[:8]}"
    result = run_available_now(rollup, name, output_mode="complete")
    return result.select(
        F.col("hour_start").cast("timestamp").alias("hour_start"),
        "event_type",
        "n",
        "total_value",
    )


# Streaming sessionization: the custom STATEFUL operator
# (applyInPandasWithState, ProcessingTimeTimeout idle flush) certified
# against the batch gaps-and-islands SQL. The stream keeps running empty
# micro-batches after the corpus is exhausted so idle state times out and
# every key's final open session flushes — at which point the emitted set
# must equal the batch answer exactly, finals included. The oracle is the
# same SQL as the batch s01 gate: one operator, two execution models, one
# truth.
_S04_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) - 1 AS session_seq
  FROM x
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) AS end_us
FROM s GROUP BY 1, 2
"""


@query(
    "s04_streaming_sessionize", _S04_ORACLE,
    doc="streaming certification: applyInPandasWithState sessionization "
        "with idle-timeout flush, hash-matched against the batch "
        "gaps-and-islands SQL",
)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.sessionize import (
        session_stats,
        streaming_sessionize,
    )
    from otterbrix_spark.sources.registry import load_table

    # the batch row count tells the harness when the stream has flushed
    # everything (one extra aggregate job — not part of the streaming graph)
    target = session_stats(
        load_table(spark, sf_dir, "events"), gap_minutes=30
    ).count()
    stream = events_stream(spark, sf_dir)
    sessions = streaming_sessionize(stream, gap_minutes=30, idle_timeout_ms=2000)
    name = f"s04_sess_{uuid.uuid4().hex[:8]}"
    result = run_until_count(
        sessions, name, target_rows=target, timeout_s=240
    )
    return result.select(
        "user_id", "session_seq", "n_events", "start_us", "end_us"
    )


# Stream-stream band join certification: the REAL two-stream join graph
# (both sides watermarked, event-time band bounding the state store) runs
# through availableNow into a memory sink and must reproduce the batch
# band join row-for-row — the reference's cross-batch streaming join
# (`integration/cpp/test/test_streaming_join.cpp`) certified the same way
# s03 certified windows. Purchase->click attribution pairs per user
# within 30 minutes; the DuckDB oracle is the literal batch band join.
_S05_ORACLE = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@query(
    "s05_streaming_join", _S05_ORACLE,
    doc="streaming certification: watermarked stream-stream band join "
        "(purchase->click attribution), availableNow, hash-matched "
        "against the batch band join",
)
def s05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import stream_stream_join

    def side(df: DataFrame, typ: str) -> DataFrame:
        return df.filter(F.col("event_type") == typ).select(
            "user_id", "event_id", "ts"
        )

    # one micro-batch for the whole bounded corpus: with the default
    # (~1000-file) availableNow batching, a directory corpus whose later
    # part files span the full event-time range would deliver rows behind
    # the already-advanced watermark and silently lose join pairs
    stream = events_stream(spark, sf_dir, max_files_per_trigger=1_000_000)
    joined = stream_stream_join(
        side(stream, "purchase"), side(stream, "click"), "user_id",
        within="30 minutes",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    name = f"s05_join_{uuid.uuid4().hex[:8]}"
    return run_available_now(joined, name, output_mode="append")


# Stateful streaming anomaly detection certification: the second custom
# stateful operator (operators/anomaly.py) run as a REAL stream —
# per-event running-mean verdicts folded through applyInPandasWithState
# state, aggregated, and hash-matched against the batch cumulative-window
# oracle. Integer cross-multiplication rule — no float drift between the
# pandas fold and the SQL window.
_S06_ORACLE = """
WITH q AS (
  SELECT event_type, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events),
r AS (
  SELECT event_type, qv,
         COUNT(*) OVER w AS n_prior,
         COALESCE(SUM(qv) OVER w, 0) AS s_prior
  FROM q
  WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN n_prior >= 10 AND qv * n_prior > 2 * s_prior
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM r GROUP BY event_type ORDER BY event_type
"""


@query(
    "s06_streaming_anomaly", _S06_ORACLE,
    doc="streaming certification: stateful running-mean anomaly detector "
        "(applyInPandasWithState), hash-matched against the batch "
        "cumulative-window oracle",
)
def s06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.anomaly import streaming_anomalies

    stream = events_stream(spark, sf_dir, max_files_per_trigger=1_000_000)
    verdicts = streaming_anomalies(stream, min_prior=10, factor=2)
    name = f"s06_anom_{uuid.uuid4().hex[:8]}"
    res = run_available_now(verdicts, name, output_mode="append")
    return (
        res.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_anomaly").cast("long").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# Multi-batch streaming certification: s03's rollup graph re-run with the
# corpus split into TIME-SORTED landing files and maxFilesPerTrigger=1, so
# availableNow processes >= 3 genuine micro-batches and the windowed
# aggregate's state must merge correctly ACROSS batches (partial windows
# from batch i are updated by batch i+1). Time-sorting the files is what
# makes batch-equality hold under real watermark semantics: each batch's
# minimum event time is >= every earlier batch's maximum, so no row ever
# arrives behind the advanced watermark and nothing is dropped — the
# production landing-directory contract (ingest in event-time order)
# documented in README §streaming. The gate ASSERTS the run really was
# multi-batch; a single-batch collapse raises rather than vacuously
# passing.
_S07_ORACLE = _S03_ORACLE


def _only_part_file(directory: str) -> str:
    """The single ``part-*.parquet`` file of a one-file write. Landing
    directories are built by moving these files, so a write that produced
    none or several (a layout change upstream) must fail loudly, not
    silently land a fraction of the rows."""
    import glob
    import os

    files = glob.glob(os.path.join(directory, "part-*.parquet"))
    if len(files) != 1:
        raise RuntimeError(
            f"expected exactly one part file in {directory}, found {len(files)}"
        )
    return files[0]


def _sliced_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Write the events corpus as ``<scratch>/events.parquet/part-000i``
    files sliced into contiguous, ascending event-time ranges (names AND
    mtimes ascending — the file-stream source orders by both). Harness-side
    corpus prep, not part of the streaming graph: it stands in for the
    landing directory a real ingest pipeline appends in event-time order."""
    import os
    import shutil

    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.workload import scratch_dir

    scratch = scratch_dir("s07_landing_")
    out = os.path.join(scratch, "events.parquet")
    os.makedirs(out)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min("ts").cast("long"), F.max("ts").cast("long")
    ).collect()[0]  # two scalars — slicing bounds only
    if hi is None:
        # empty corpus: land one schema-only file so the stream starts
        # cleanly; the gate's >= 3-batch assertion then fails with its own
        # meaningful message instead of a TypeError here
        ev.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(scratch, "slice_empty")
        )
        shutil.move(
            _only_part_file(os.path.join(scratch, "slice_empty")),
            os.path.join(out, "part-0000.parquet"),
        )
        return scratch
    width = max(1, (int(hi) - int(lo)) // n_files + 1)
    # Round-14 (guide §2.6/§6): ONE partitioned write replaces the former
    # n_files sequential filter + coalesce(1) jobs — each of those
    # re-scanned the whole corpus and wrote through a single task, so the
    # ~25 streaming gates sharing this harness paid n_files serial passes
    # before their stream even started. The slice id is a pure column
    # expression (integer DIV, same boundaries), repartition by it lands
    # each slice in exactly one task, and partitionBy writes one file per
    # slice in a single scan. Slice membership is identical; only row
    # order inside a slice file may differ, which no keyed/state-based
    # gate observes (outputs are hash-matched order-insensitively).
    tmp = os.path.join(scratch, "slices")
    (
        ev.withColumn(
            "_slice",
            F.expr(f"CAST((CAST(ts AS LONG) - {int(lo)}) DIV {width} AS INT)"),
        )
        .repartition("_slice")
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(tmp)
    )
    for i in range(n_files):
        slice_dir = os.path.join(tmp, f"_slice={i}")
        if not os.path.isdir(slice_dir):  # empty time slice: nothing to land
            continue
        dst = os.path.join(out, f"part-{i:04d}.parquet")
        shutil.move(_only_part_file(slice_dir), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return scratch


def _append_sentinel_slices(
    spark: SparkSession,
    sf_dir: str,
    landing: str,
    event_types: tuple[str, ...],
    offsets_h: tuple[int, ...] = (5, 6),
) -> None:
    """Land ``len(offsets_h)`` far-future sentinel files (names and mtimes
    AFTER every real slice) into a ``_sliced_events_dir`` landing dir — the
    stand-in for the feed's next hour of traffic that lets availableNow
    runs advance the watermark past the real corpus and flush
    append-mode state (outer-join null pads, final windows). One sentinel
    row per event type per slice, all with negative ids so gates can
    filter them back out. The SECOND slice flushes whatever state the
    first one's watermark advance released — outer joins and chained
    aggregations both need that extra turn of the crank."""
    import os
    import shutil

    from otterbrix_spark.sources.registry import load_table

    out = os.path.join(landing, "events.parquet")
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    hi_us = int(hi.timestamp() * 1_000_000)
    hour_us = 3_600_000_000
    norm = load_table(spark, landing, "events")  # slice schema (normalised)
    dtypes = dict(norm.dtypes)
    # Round-14: ONE partitioned write for every sentinel slice instead of
    # one coalesce(1) job per slice — same files, same names, same mtimes,
    # half the serial job count in every streaming gate's setup.
    rows = [
        norm.limit(1).select(
            F.lit(i).alias("_sent"),
            F.lit(-1 - i).cast(dtypes["event_id"]).alias("event_id"),
            F.timestamp_micros(
                F.lit(hi_us + offset_h * hour_us)
            ).cast(dtypes["ts"]).alias("ts"),
            F.lit(-1).cast(dtypes["user_id"]).alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).select("_sent", *norm.columns)
        for i, offset_h in enumerate(offsets_h)
        for etype in event_types
    ]
    sent = rows[0]
    for r in rows[1:]:
        sent = sent.unionByName(r)
    tmp = os.path.join(landing, "sentinels")
    (
        sent.repartition("_sent")
        .write.mode("overwrite")
        .partitionBy("_sent")
        .parquet(tmp)
    )
    for i in range(len(offsets_h)):
        src = _only_part_file(os.path.join(tmp, f"_sent={i}"))
        dst = os.path.join(out, f"part-9{i:03d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (1_800_000_000 + i * 60, 1_800_000_000 + i * 60))


@query(
    "s07_streaming_multibatch", _S07_ORACLE,
    doc="multi-batch streaming certification: hourly rollup over >= 3 "
        "time-sorted micro-batches (maxFilesPerTrigger=1), cross-batch "
        "window-state merge hash-matched against the batch SQL",
)
def s07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=4)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    rollup = hourly_rollup_stream(stream)
    name = f"s07_multi_{uuid.uuid4().hex[:8]}"
    result, n_batches, _state = run_available_now_counted(
        rollup, name, output_mode="complete"
    )
    if n_batches < 3:
        raise AssertionError(
            f"multi-batch certification ran only {n_batches} input batches"
        )
    return result.select(
        F.col("hour_start").cast("timestamp").alias("hour_start"),
        "event_type",
        "n",
        "total_value",
    )


# Streaming INTO the continuous aggregate: the landing directory streams
# through foreachBatch; every micro-batch appends to a bronze table and
# triggers an O(delta) ContinuousAggregate.refresh of exactly the buckets
# that batch touched — the medallion-style incremental pipeline composing
# the two in-repo maintenance features (streaming micro-batches x
# partition-overwrite rollup). The certification: after >= 3 real
# micro-batches the maintained PARQUET table (not the memory sink — the
# rollup lives on storage) equals the batch hourly aggregate bit-for-bit.
_S08_ORACLE = _S03_ORACLE


@query(
    "s08_streaming_into_rollup", _S08_ORACLE,
    doc="streaming -> continuous aggregate: foreachBatch appends bronze + "
        "O(delta) bucket refresh per micro-batch; the maintained parquet "
        "rollup equals the batch aggregate after >= 3 batches",
)
def s08(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import time as _time

    from otterbrix_spark.operators.rollup import ContinuousAggregate
    from otterbrix_spark.workload import scratch_dir

    landing = _sliced_events_dir(spark, sf_dir, n_files=4)
    scratch = scratch_dir("s08_rollup_")
    bronze = os.path.join(scratch, "bronze")
    ca = ContinuousAggregate(
        spark, os.path.join(scratch, "rollup"), bucket_hours=1
    )
    # empty-schema build so the first refresh has a table to swap into
    first = spark.read.parquet(os.path.join(landing, "events.parquet"))
    ca.build(first.limit(0))
    batches: list[int] = []

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(bronze)
        source = spark.read.parquet(bronze)
        ca.refresh(source=source, delta=batch_df)
        batches.append(batch_id)

    stream = events_stream(spark, landing, max_files_per_trigger=1)
    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .start()
    )
    deadline = _time.time() + 180
    while q.isActive and _time.time() < deadline:
        _time.sleep(0.2)
    if q.isActive:
        q.stop()
        raise TimeoutError("s08 stream did not finish")
    q.awaitTermination()
    if len(batches) < 3:
        raise AssertionError(
            f"streaming->rollup certification ran only {len(batches)} batches"
        )
    return ca.df().select(
        F.timestamp_micros(F.col("bucket_us")).alias("hour_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("qsum").cast("double") / 10000.0).alias("total_value"),
    )


# Streaming DEDUPLICATION certification: Structured Streaming's stateful
# dropDuplicates-with-watermark operator, driven with REAL duplicate
# arrivals — the landing directory contains every time-slice file TWICE
# (the at-least-once delivery a file-based ingest actually produces), and
# the stream must emit each event exactly once. State is bounded by the
# watermark: an event_id's dedup entry is dropped once the watermark
# passes its event time, which is safe here because the duplicate files
# land in the same time order as the originals (the README ingest-order
# contract). Certified against batch DISTINCT over the same corpus.
_S09_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def _duplicated_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Time-sliced landing dir where every slice file appears twice
    (part-000iA / part-000iB, adjacent in mtime order) — at-least-once
    file delivery."""
    import glob
    import os
    import shutil

    scratch = _sliced_events_dir(spark, sf_dir, n_files=3)
    out = os.path.join(scratch, "events.parquet")
    for f in sorted(glob.glob(os.path.join(out, "part-*.parquet"))):
        # suffix-only rename: str.replace would hit the DIRECTORY name's
        # ".parquet" first (events.parquet/ -> eventsb.parquet/)
        dup = f[: -len(".parquet")] + "b.parquet"
        shutil.copyfile(f, dup)
        st = os.stat(f)
        os.utime(dup, (st.st_atime + 1, st.st_mtime + 1))
    return scratch


@query(
    "s09_streaming_dedup", _S09_ORACLE,
    doc="streaming dedup certification: dropDuplicates + watermark over a "
        "landing directory with every file delivered TWICE — exactly-once "
        "output hash-matched against batch DISTINCT",
)
def s09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _duplicated_landing_dir(spark, sf_dir)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    # ts is PART OF the dedup subset: Spark only evicts dedup state when
    # the watermarked event-time column is in the key (a bare
    # dropDuplicates(["event_id"]) keeps every key forever — measured
    # numRowsRemoved=0, the unbounded-state leak this gate exists to rule
    # out). Duplicate file deliveries carry identical (event_id, ts), so
    # the wider key still dedupes them exactly.
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "event_type", "user_id")
    )
    name = f"s09_dedup_{uuid.uuid4().hex[:8]}"
    result, n_batches, state = run_available_now_counted(
        deduped, name, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(
            f"streaming dedup certification ran only {n_batches} batches"
        )
    n_total = result.count()
    # PEAK state rows across all progress reports, not the last report's
    # (availableNow's final micro-batch is often empty and reports zero
    # state rows, which would pass a last-report check vacuously), plus a
    # direct eviction count: both must show the watermark bounding state.
    if n_total > 0 and state.max_rows_total >= n_total:
        raise AssertionError(
            "watermark never evicted dedup state "
            f"(peak {state.max_rows_total} state rows for {n_total} events)"
        )
    if n_total > 0 and state.rows_removed <= 0:
        raise AssertionError(
            "watermark reported zero evicted dedup-state rows "
            f"across {n_batches} batches"
        )
    return (
        result.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# --- s10: restart-from-checkpoint certification ------------------------------
# Every other streaming gate certifies a single uninterrupted run; a
# production pipeline actually relies on what happens when the query is
# STOPPED and RESUMED — source offsets, watermark, and dedup state must
# all come back from the checkpoint, and the file sink's commit log must
# keep the output exactly-once across the boundary. Phase 1 lands half
# the time-sliced corpus and runs an availableNow pass to completion
# (checkpointed parquet sink); phase 2 lands the remaining slices PLUS a
# re-delivery of every phase-1 file and resumes from the same checkpoint.
# A correct resume (a) does not re-read committed files, (b) suppresses
# the re-delivered rows (recovered dedup state or recovered-watermark
# late-drop — both correct), and (c) the combined output hash-matches the
# batch aggregate over the corpus. The gate asserts all three; the oracle
# is the same batch SQL as s09 (dedup output = the original events).

_S10_ORACLE = _S09_ORACLE


@query(
    "s10_streaming_restart", _S10_ORACLE,
    doc="restart-from-checkpoint certification: availableNow pass, stop, "
        "land more files + re-deliveries, resume from the same checkpoint "
        "-> exactly-once output hash-matched against the batch aggregate",
)
def s10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from otterbrix_spark.streaming.pipeline import (
        run_available_now_to_files,
    )
    from otterbrix_spark.workload import scratch_dir

    full = _sliced_events_dir(spark, sf_dir, n_files=4)
    parts = sorted(
        glob.glob(os.path.join(full, "events.parquet", "part-*.parquet"))
    )
    scratch = scratch_dir("s10_restart_")
    landing = os.path.join(scratch, "events.parquet")
    os.makedirs(landing)
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    base = 1_700_000_000

    def land(src_file: str, name: str, seq: int) -> None:
        dst = os.path.join(landing, name)
        shutil.copyfile(src_file, dst)
        os.utime(dst, (base + seq * 60, base + seq * 60))

    half = max(1, len(parts) // 2)
    for i, f in enumerate(parts[:half]):
        land(f, f"part-{i:04d}.parquet", i)

    def graph() -> DataFrame:
        stream = events_stream(spark, scratch, max_files_per_trigger=1)
        return (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicates(["event_id", "ts"])
            .select("event_id", "event_type", "user_id")
        )

    n1, in1, _ids1 = run_available_now_to_files(graph(), out, ckpt)
    rows_after_run1 = spark.read.parquet(out).count()
    # phase 2: the remaining slices, then a RE-DELIVERY of every phase-1
    # file (later mtimes, so the new slices advance the watermark first)
    for j, f in enumerate(parts[half:]):
        land(f, f"part-{half + j:04d}.parquet", half + j)
    for j, f in enumerate(parts[:half]):
        land(f, f"redeliver-{j:04d}.parquet", len(parts) + j)
    n2, in2, _ids2 = run_available_now_to_files(graph(), out, ckpt)
    result = spark.read.parquet(out)
    n_total = result.count()
    emitted2 = n_total - rows_after_run1
    if n1 < 1 or n2 < 1:
        raise AssertionError(
            f"restart certification needs input batches on BOTH sides of "
            f"the restart (run1={n1}, run2={n2})"
        )
    if in2 <= emitted2:
        raise AssertionError(
            "resumed run emitted every input row — re-delivered phase-1 "
            f"rows were not suppressed ({emitted2} emitted of {in2} input)"
        )
    if rows_after_run1 >= n_total:
        raise AssertionError(
            "resumed run emitted nothing — checkpoint resume did not "
            "process the newly landed slices"
        )
    return (
        result.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# --- s11: NATIVE session windows (streaming) ---------------------------------
# s01/s04 certify the CUSTOM sessionizer (applyInPandasWithState); s11
# certifies Spark's NATIVE session_window aggregation — the idiomatic
# form a Spark-first deployment reaches for before writing any stateful
# UDF — against the same gaps-and-islands batch oracle. Boundary pinned
# explicitly: session_window treats a session as [first, last + gap) and
# an event at EXACTLY prev + gap starts a NEW session, so the oracle
# breaks on gap >= 30min (the custom s01/s04 family breaks on > 30min —
# a real semantic difference between the two operators, worth its own
# gate). end_us certifies the window-end contract (last event + gap).

_S11_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM x
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) + 1800000000 AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, grp
ORDER BY user_id, start_us
"""


@query(
    "s11_session_window_native", _S11_ORACLE,
    doc="NATIVE streaming session_window aggregation (vs the custom "
        "stateful sessionizer): [first, last+gap) sessions, boundary "
        "event at exactly prev+gap starts a new session",
)
def s11(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
        )
    )
    name = f"s11_sess_{uuid.uuid4().hex[:8]}"
    result = run_available_now(agg, name, output_mode="complete")
    return result.orderBy("user_id", "start_us")


# --- s12: SLIDING event-time windows (streaming) -----------------------------
# s03 certifies tumbling windows; s12 certifies the overlapping form —
# window(ts, 2h, 30m): every event lands in exactly 4 epoch-aligned
# windows. The oracle replays the window membership arithmetically
# (start = (floor(us/30m) - k) * 30m for k in 0..3 — exact integers, no
# float bucketing), which pins BOTH the slide alignment and the
# duration/slide ratio. Scale: the streaming plan expands each row to
# its 4 windows BEFORE the state shuffle (same Expand as the batch
# form), state is duration/slide x keys — bounded by the watermark.

_S12_ORACLE = """
SELECT ws_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT event_type,
         ((epoch_us(ts) // 1800000000) - k) * 1800000000 AS ws_us
  FROM events, UNNEST(range(0, 4)) AS t(k))
GROUP BY ws_us, event_type
ORDER BY ws_us, event_type
"""


@query(
    "s12_sliding_window", _S12_ORACLE,
    doc="streaming sliding windows (2h duration, 30m slide): every event "
        "in exactly 4 epoch-aligned windows, hash-matched against the "
        "arithmetic window-membership oracle",
)
def s12(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.window("ts", "2 hours", "30 minutes"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("ws_us"),
            "event_type",
            "n",
        )
    )
    name = f"s12_slide_{uuid.uuid4().hex[:8]}"
    result = run_available_now(agg, name, output_mode="complete")
    return result.orderBy("ws_us", "event_type")


# s13: STREAM-STATIC enrichment join — the canonical deployment shape a
# dimension-enriched event pipeline runs: the unbounded fact stream joins
# a bounded dimension table (no watermark needed on the static side; the
# dimension is broadcast into every micro-batch), then a watermarked
# event-time rollup aggregates per (hour, nation). Certifies the third
# streaming join family next to stream-stream (s05) and stream->rollup
# (s08): static-side broadcast, no state kept for the dimension, state
# bounded by the watermark for the aggregate alone. Hash-matched against
# the identical batch join+rollup.
_S13_ORACLE = """
SELECT date_trunc('hour', e.ts) AS hour_start, c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(e.value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
"""


@query(
    "s13_stream_static_enrich", _S13_ORACLE,
    doc="streaming certification: stream-static dimension enrichment "
        "(broadcast per micro-batch) feeding a watermarked hourly rollup",
)
def s13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.sources.registry import load_table

    stream = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    q = F.floor(F.col("value") * F.lit(10000.0)).cast("long")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour"), F.col("c_nationkey"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(q).alias("qsum"))
        .select(
            F.col("window.start").alias("hour_start"),
            "c_nationkey",
            "n",
            "qsum",
        )
    )
    name = f"s13_enrich_{uuid.uuid4().hex[:8]}"
    result = run_available_now(agg, name, output_mode="complete")
    return result.select(
        F.col("hour_start").cast("timestamp").alias("hour_start"),
        "c_nationkey", "n", "qsum",
    )


# s14: streaming UPSERT into a keyed table (SCD type-1 "latest state per
# key") through foreachBatch — the remaining production sink family next
# to append (s05/s07), complete-mode rollup (s03), and foreachBatch->
# continuous-aggregate (s08). Each micro-batch merges into a parquet
# table partitioned by key bucket: union the touched buckets' current
# rows with the batch, keep the argmax by (ts, event_id) per user, and
# dynamic-partition-overwrite exactly the touched buckets. The merge is
# a pure function of (existing, batch) — IDEMPOTENT under micro-batch
# replay, which is what makes foreachBatch exactly-once in practice; the
# gate re-applies the full corpus as a duplicate "retry" batch after the
# stream finishes and the table must still hash-match the batch argmax
# oracle.
_S14_N_BUCKETS = 16

_S14_ORACLE = """
SELECT user_id, epoch_us(ts) AS ts_us, event_type, value
FROM (SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


@query(
    "s14_streaming_upsert", _S14_ORACLE,
    doc="streaming certification: foreachBatch keyed upsert (latest state "
        "per user, bucket-partitioned dynamic overwrite), idempotent "
        "under batch replay — table equals the batch argmax",
)
def s14(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.errors import AnalysisException

    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.workload import scratch_dir

    scratch = scratch_dir("s14_upsert_")
    table = os.path.join(scratch, "latest_by_user")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        b = batch.select(
            "user_id", "ts", "event_type", "value", "event_id"
        ).withColumn("bucket", F.col("user_id") % _S14_N_BUCKETS)
        touched = [
            r["bucket"] for r in b.select("bucket").distinct().collect()
        ]  # tiny driver list: bucket ids only
        if not touched:
            return
        sess = batch.sparkSession
        try:
            existing = sess.read.parquet(table).filter(
                F.col("bucket").isin(touched)
            )
            merged_src = existing.unionByName(b)
        except AnalysisException:  # first batch: table does not exist yet
            merged_src = b
        # argmax by (ts, event_id) via max(struct) — one narrow groupBy
        # per bucket, never a window over the full history
        latest = (
            merged_src.groupBy("user_id", "bucket")
            .agg(
                F.max(
                    F.struct("ts", "event_id", "event_type", "value")
                ).alias("s")
            )
            .select(
                "user_id", "bucket",
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
                F.col("s.event_type").alias("event_type"),
                F.col("s.value").alias("value"),
            )
        )
        (
            latest.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table)
        )

    landing = _sliced_events_dir(spark, sf_dir, n_files=4)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    name = f"s14_upsert_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(upsert)
        .option(
            "checkpointLocation", os.path.join(scratch, "ckpt_" + name)
        )
        .start()
    )
    from otterbrix_spark.streaming.pipeline import _await_bounded

    _await_bounded(q, name, timeout_s=180.0)
    n_batches = sum(
        1
        for p in q.recentProgress
        if (p.numInputRows if hasattr(p, "numInputRows") else p["numInputRows"])
        > 0
    )
    if n_batches < 3:
        raise AssertionError(
            f"s14 upsert ran only {n_batches} input micro-batches"
        )
    # retry semantics: re-apply the ENTIRE corpus as a duplicate batch —
    # the idempotent merge must leave the table at the same fixpoint
    # (the oracle hash-match below fails if it did not)
    ev = load_table(spark, sf_dir, "events")
    upsert(ev, batch_id=-1)
    return (
        spark.read.parquet(table)
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
            "value",
        )
    )


# s15: stream-stream LEFT OUTER join — the outer-join state machine that
# inner joins (s05) never exercise: an unmatched left row may only be
# emitted (null-padded) once the WATERMARK proves no matching right row
# can still arrive, so correct results REQUIRE correct state eviction —
# emit too early and a late match contradicts the null row, never emit
# and tail rows are lost. Over a bounded corpus the tail lefts would sit
# in state forever (no later data to advance the watermark), so the
# harness appends two far-future SENTINEL slices (user_id -1, filtered
# from the result) — the stand-in for the next hour of a real feed; the
# second sentinel batch flushes the state the first one released. The
# certification: null-padded + matched rows together hash-match the
# batch LEFT JOIN over the real corpus.
_S15_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 30 MINUTE
"""


@query(
    "s15_streaming_left_outer", _S15_ORACLE,
    doc="streaming certification: stream-stream LEFT OUTER band join — "
        "null-padded rows emitted only as the watermark closes the join "
        "window; sentinel slices advance the watermark past the corpus "
        "tail; hash-matched against the batch LEFT JOIN",
)
def s15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=3)
    _append_sentinel_slices(spark, sf_dir, landing, ("purchase", "click"))
    stream = events_stream(spark, landing, max_files_per_trigger=1)

    def side(typ: str, idcol: str) -> DataFrame:
        return stream.filter(F.col("event_type") == typ).select(
            F.col("user_id"), F.col("event_id").alias(idcol), F.col("ts")
        )

    left = side("purchase", "purchase_id").withWatermark("ts", "2 hours")
    right = (
        side("click", "click_id")
        .withColumnRenamed("ts", "r_ts")
        .withColumnRenamed("user_id", "r_user")
        .withWatermark("r_ts", "2 hours")
    )
    joined = left.join(
        right,
        F.expr(
            "user_id = r_user AND r_ts >= ts "
            "AND r_ts <= ts + INTERVAL 30 MINUTE"
        ),
        "left_outer",
    ).select("user_id", "purchase_id", "click_id")
    name = f"s15_louter_{uuid.uuid4().hex[:8]}"
    result, n_batches, _stats = run_available_now_counted(
        joined, name, timeout_s=180.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(
            f"s15 ran only {n_batches} input micro-batches"
        )
    return result.filter(F.col("user_id") >= 0)


# --- s16: dropDuplicatesWithinWatermark certification ------------------------
# s09 certifies exact re-delivery (identical event_id AND ts, so the
# ts-widened dedup key both dedupes and evicts). The harder production
# case is JITTERED re-delivery — the retry carries the same event_id but
# a slightly different event time (re-serialisation, clock skew), which
# the ts-widened key MISSES (different ts -> different key -> duplicate
# passes). Spark's dropDuplicatesWithinWatermark exists precisely for
# this: the dedup key is event_id ALONE, state still expires once the
# watermark passes the first arrival's event time. The landing directory
# delivers every slice file twice, the second copy's ts shifted +30s;
# exactly-once output is hash-matched against batch DISTINCT, and state
# eviction is asserted the s09 way (peak state < emitted rows AND
# numRowsRemoved > 0 summed over all progress reports).

_S16_ORACLE = _S09_ORACLE


def _jittered_dup_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Landing dir where every slice file appears twice, the duplicate
    copy re-timestamped +30s (jittered at-least-once delivery)."""
    import glob
    import os
    import shutil

    scratch = _sliced_events_dir(spark, sf_dir, n_files=3)
    out = os.path.join(scratch, "events.parquet")
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    ):
        shifted = spark.read.parquet(f).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS")
        )
        tmp_i = os.path.join(scratch, f"jitter_{i}")
        shifted.coalesce(1).write.mode("overwrite").parquet(tmp_i)
        src = _only_part_file(tmp_i)
        dup = f[: -len(".parquet")] + "b.parquet"
        shutil.move(src, dup)
        st = os.stat(f)
        os.utime(dup, (st.st_atime + 1, st.st_mtime + 1))
    return scratch


@query(
    "s16_dedup_within_watermark", _S16_ORACLE,
    doc="streaming dedup of JITTERED re-delivery: "
        "dropDuplicatesWithinWatermark on event_id alone (retry carries a "
        "shifted ts the s09 key would miss), state eviction asserted",
)
def s16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _jittered_dup_landing_dir(spark, sf_dir)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "user_id")
    )
    name = f"s16_dedup_{uuid.uuid4().hex[:8]}"
    result, n_batches, state = run_available_now_counted(
        deduped, name, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(
            f"s16 dedup certification ran only {n_batches} batches"
        )
    n_total = result.count()
    if n_total > 0 and state.max_rows_total >= n_total:
        raise AssertionError(
            "watermark never evicted dedup-within-watermark state "
            f"(peak {state.max_rows_total} state rows for {n_total} events)"
        )
    if n_total > 0 and state.rows_removed <= 0:
        raise AssertionError(
            "zero evicted state rows across "
            f"{n_batches} batches (state would grow without bound)"
        )
    return (
        result.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# --- s17: stream-stream FULL OUTER join --------------------------------------
# Completes the stream-stream join family (s05 inner, s15 left outer):
# FULL OUTER exercises BOTH sides of the outer-join state machine — an
# unmatched purchase null-pads its click columns AND an unmatched click
# null-pads its purchase columns, each only once the opposite side's
# watermark proves no match can still arrive. Same sentinel-slice
# harness as s15 (two far-future slices stand in for the feed's next
# hour; the second flushes what the first released); certification is
# the hash match against the batch FULL JOIN over the real corpus.

_S17_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT COALESCE(p.user_id, c.user_id) AS uid,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM p FULL OUTER JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 30 MINUTE
"""


@query(
    "s17_streaming_full_outer", _S17_ORACLE,
    doc="streaming certification: stream-stream FULL OUTER band join — "
        "both sides' unmatched rows emitted on watermark close, "
        "hash-matched against the batch FULL JOIN",
)
def s17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=3)
    _append_sentinel_slices(spark, sf_dir, landing, ("purchase", "click"))
    stream = events_stream(spark, landing, max_files_per_trigger=1)

    def side(typ: str, idcol: str) -> DataFrame:
        return stream.filter(F.col("event_type") == typ).select(
            F.col("user_id"), F.col("event_id").alias(idcol), F.col("ts")
        )

    left = side("purchase", "purchase_id").withWatermark("ts", "2 hours")
    right = (
        side("click", "click_id")
        .withColumnRenamed("ts", "r_ts")
        .withColumnRenamed("user_id", "r_user")
        .withWatermark("r_ts", "2 hours")
    )
    joined = left.join(
        right,
        F.expr(
            "user_id = r_user AND r_ts >= ts "
            "AND r_ts <= ts + INTERVAL 30 MINUTE"
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("user_id"), F.col("r_user")).alias("uid"),
        "purchase_id",
        "click_id",
    )
    name = f"s17_fouter_{uuid.uuid4().hex[:8]}"
    result, n_batches, _stats = run_available_now_counted(
        joined, name, timeout_s=240.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(
            f"s17 ran only {n_batches} input micro-batches"
        )
    return result.filter(F.col("uid") >= 0)


# --- s18: CHAINED stateful aggregations in one streaming query ----------------
# Two stateful operators back to back — a 5-minute tumbling count per
# event type re-aggregated into hourly totals via window_time() — in a
# SINGLE streaming graph (Spark 3.4+ multiple-stateful-operator support;
# chained aggs require append mode, so final windows only emit once the
# watermark passes them: the sentinel slices stand in for the feed's
# next hour). n_sub = the number of distinct non-empty 5-minute
# sub-windows per hour certifies the FIRST aggregation's output really
# flowed through the second (a single-agg plan could fake n but not
# n_sub). Epoch-aligned 5-min windows never straddle an hour boundary,
# so window_time (end - 1us) buckets each sub-window into its start's
# hour. Scale: both aggs are hash-partitioned on their window keys;
# state is O(open windows x types), bounded by the watermark.

_S18_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT epoch_us(ts) // 300000000) AS BIGINT) AS n_sub
FROM events
GROUP BY 1, 2
ORDER BY hour_us, event_type
"""


@query(
    "s18_chained_stateful", _S18_ORACLE,
    doc="streaming certification: two chained stateful aggregations "
        "(5-min tumbling counts re-aggregated hourly via window_time) in "
        "one append-mode query, hash-matched against the batch rollup",
)
def s18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=3)
    _append_sentinel_slices(spark, sf_dir, landing, ("__sentinel__",))
    stream = events_stream(spark, landing, max_files_per_trigger=1)

    agg5 = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n5"))
    )
    hourly = (
        agg5.groupBy(
            F.window(F.window_time("window"), "1 hour"), "event_type"
        )
        .agg(
            F.sum("n5").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_sub"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("hour_us"),
            "event_type",
            "n",
            "n_sub",
        )
    )
    name = f"s18_chain_{uuid.uuid4().hex[:8]}"
    result, n_batches, _stats = run_available_now_counted(
        hourly, name, timeout_s=240.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(f"s18 ran only {n_batches} input micro-batches")
    return result.filter(F.col("event_type") != "__sentinel__").orderBy(
        "hour_us", "event_type"
    )


# --- s19: stateful milestone counter certification -----------------------------
# A third custom stateful operator: per-user milestone crossings (the
# event that is the user's 1st / 10th / 100th / 1000th), deterministic
# under the time-sorted landing contract the other multi-batch gates
# certify (batches ascend in event time; the fold sorts within a batch by
# (ts, event_id)). The crossing only emits once, in whichever micro-batch
# the count passes the threshold — so a correct result REQUIRES state to
# carry the running count across batches; the >= 3-batch assertion rules
# out a single-batch collapse. The operator also ships a
# transformWithState twin (Spark 4 arbitrary-state API) that is
# availability-gated on google.protobuf — absent in this container —
# mirrored by a skip-marked test, like the Avro reader.

_S19_ORACLE = """
WITH r AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id, CAST(rn AS BIGINT) AS milestone, event_id
FROM r WHERE rn IN (1, 10, 100, 1000)
"""


@query(
    "s19_milestone_counter", _S19_ORACLE,
    doc="streaming certification: stateful per-user milestone counter "
        "across >= 3 micro-batches, hash-matched against the batch "
        "row_number milestones (applyInPandasWithState; "
        "transformWithState twin availability-gated)",
)
def s19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.milestones import milestone_stream
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=3)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    crossings = milestone_stream(stream)
    name = f"s19_tws_{uuid.uuid4().hex[:8]}"
    result, n_batches, _stats = run_available_now_counted(
        crossings, name, timeout_s=240.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(f"s19 ran only {n_batches} input micro-batches")
    return result.orderBy("user_id", "milestone")


# --- s20: late-data DROP certification ----------------------------------------
# Every other streaming gate certifies the happy path (all input inside
# the watermark). This one certifies the NEGATIVE path a production
# pipeline actually relies on: rows arriving later than the watermark
# allows are DROPPED — not silently aggregated twice, not crashing the
# query. The landing dir replays the corpus' earliest two hours (with
# shifted event ids) AFTER the time-sorted slices have advanced the
# watermark weeks past them; the gate then asserts
# (1) numRowsDroppedByWatermark summed over ALL progress reports is
# positive — the drop genuinely fired in the state operator, and
# (2) the append-mode result still hash-matches the batch rollup over
# the ORIGINAL corpus — i.e. the replayed rows left no trace. If Spark
# ever aggregated the late rows, the duplicated early windows would
# shift the hash; if it never dropped them (e.g. the watermark silently
# detached), assertion (1) fires.

_S20_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events
GROUP BY 1, 2
ORDER BY hour_us, event_type
"""


@query(
    "s20_late_drop",
    _S20_ORACLE,
    doc="streaming certification: rows behind the watermark are dropped "
        "(numRowsDroppedByWatermark > 0 asserted) and the append-mode "
        "result still equals the batch rollup over the on-time corpus",
)
def s20(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    landing = _sliced_events_dir(spark, sf_dir, n_files=4)
    out = os.path.join(landing, "events.parquet")

    # Replay the corpus' first two hours with shifted ids, landed with an
    # mtime AFTER every real slice (but before the sentinels): by the
    # time the file source reaches it, the watermark sits weeks ahead.
    ev = load_table(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.col("ts").cast("long"))).collect()[0][0]
    if lo is not None:
        late = (
            ev.filter(F.col("ts").cast("long") < int(lo) + 2 * 3600)
            .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
        )
        tmp = os.path.join(landing, "late_replay")
        late.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(out, "part-8000.parquet")
        shutil.move(_only_part_file(tmp), dst)
        os.utime(dst, (1_750_000_000, 1_750_000_000))

    _append_sentinel_slices(spark, sf_dir, landing, ("__sentinel__",))
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    q = F.floor(F.col("value") * F.lit(10000.0)).cast("long")
    hourly = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(q).cast("long").alias("qsum"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("hour_us"),
            "event_type",
            "n",
            "qsum",
        )
    )
    name = f"s20_late_{uuid.uuid4().hex[:8]}"
    result, n_batches, stats = run_available_now_counted(
        hourly, name, timeout_s=240.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(f"s20 ran only {n_batches} input micro-batches")
    if stats.rows_dropped_late <= 0:
        raise AssertionError(
            "s20: no rows were dropped by the watermark — the late replay "
            "was either aggregated (duplicating early windows) or never "
            "reached the state operator"
        )
    return result.filter(F.col("event_type") != "__sentinel__").orderBy(
        "hour_us", "event_type"
    )


# --- s21: streaming SCD2 dimension maintenance UNDER RESTART ------------------
# The CDC pattern a warehouse actually runs: a change feed streams in,
# each micro-batch is reduced to at-most-one change per key (the LAST
# purchase in the batch decides the user's value band) and applied to a
# Type-2 dimension through operators/scd.py::scd2_apply — versions
# close/open across MICRO-BATCH boundaries, so a correct result requires
# the maintained dimension to carry across batches (>= 3 asserted).
# Batch boundaries are the deterministic time slices of the landing dir,
# which the oracle replays with window functions alone: per (user,
# slice) last purchase -> candidates; transitions (band IS DISTINCT FROM
# its LAG) -> applied versions; LEAD(vf) -> valid_to. No streaming state
# leaks into the oracle — it is pure SQL over the same corpus.
#
# Round 8 (VERDICT r7 #5): the run is SPLIT by a forced restart that
# exercises foreachBatch's at-least-once contract for real. Phase 1
# lands half the slices and runs to completion; then the checkpoint's
# LAST COMMIT MARKER is deleted — exactly the on-disk state an
# ungraceful stop between sink work and commit leaves behind — so the
# resumed run REPLAYS that batch id with the same data. The sink is
# idempotent the way a production CDC apply is: the dimension lives in
# per-batch parquet snapshots whose directory listing IS the applied-id
# ledger, and a replayed batch id is skipped (never re-applied — a
# double scd2_apply of the same change set would close/reopen spurious
# versions). The gate asserts a replay actually happened, that it was
# suppressed, and that the post-restart dimension still hash-matches
# the pure-batch oracle.

_S21_ORACLE = """
WITH bounds AS (
  SELECT CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS lo,
         CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS hi
  FROM events),
p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN value >= 66.0 THEN 'H'
              WHEN value >= 33.0 THEN 'M'
              ELSE 'L' END AS band,
         (CAST(FLOOR(epoch(ts)) AS BIGINT) - b.lo)
           // ((b.hi - b.lo) // 4 + 1) AS slice
  FROM events, bounds b WHERE event_type = 'purchase'),
cand AS (
  SELECT user_id, slice, band, us FROM p
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, slice
                             ORDER BY us DESC, event_id DESC) = 1),
applied AS (
  SELECT user_id, band, us FROM cand
  QUALIFY band IS DISTINCT FROM
          LAG(band) OVER (PARTITION BY user_id ORDER BY slice)),
vers AS (
  SELECT user_id, band AS attr, us AS vf,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us) AS vt
  FROM applied),
u AS (SELECT DISTINCT user_id FROM events),
firstv AS (SELECT user_id, MIN(us) AS f FROM applied GROUP BY 1)
SELECT user_id, attr,
       CAST(vf AS BIGINT) AS valid_from,
       CAST(vt AS BIGINT) AS valid_to
FROM (
  SELECT u.user_id, 'NONE' AS attr, CAST(0 AS BIGINT) AS vf, f.f AS vt
  FROM u LEFT JOIN firstv f USING (user_id)
  UNION ALL
  SELECT user_id, attr, vf, vt FROM vers)
ORDER BY user_id, valid_from, attr
"""


@query(
    "s21_streaming_scd2",
    _S21_ORACLE,
    doc="streaming certification: CDC micro-batches maintain a Type-2 "
        "dimension via scd2_apply across >= 3 batches AND across a forced "
        "restart whose checkpoint replays a batch id — the idempotent "
        "sink must not double-apply it; oracle replays the slice algebra "
        "with pure window functions",
)
def s21(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import re as _re
    import shutil
    import time as _time

    from otterbrix_spark.operators.scd import scd2_apply
    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.workload import scratch_dir

    sliced = _sliced_events_dir(spark, sf_dir, n_files=4)
    parts = sorted(
        glob.glob(os.path.join(sliced, "events.parquet", "part-*.parquet"))
    )
    scratch = scratch_dir("s21_scd2_")
    landing = os.path.join(scratch, "events.parquet")
    os.makedirs(landing)
    ckpt = os.path.join(scratch, "ckpt")
    dims_dir = os.path.join(scratch, "dim_state")
    os.makedirs(dims_dir)
    base = 1_700_000_000

    def land(src_file: str, seq: int) -> None:
        dst = os.path.join(landing, f"part-{seq:04d}.parquet")
        shutil.copyfile(src_file, dst)
        os.utime(dst, (base + seq * 60, base + seq * 60))

    ev = load_table(spark, sf_dir, "events")
    initial = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            F.lit("NONE").alias("attr"),
            F.lit(0).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
        )
    )
    initial.write.mode("overwrite").parquet(os.path.join(dims_dir, "init"))

    def _applied_ids() -> list[int]:
        return sorted(
            int(os.path.basename(p).split("-")[1])
            for p in glob.glob(os.path.join(dims_dir, "batch-*"))
        )

    def _seen_ids() -> set[int]:
        # EVERY processed batch id, including purchase-free ones that
        # write no dimension snapshot — replay detection must key on this
        # set, or a replayed no-op batch would be re-"processed" silently
        # and the replay assertion would misfire
        return {
            int(os.path.basename(p).split("-")[1])
            for p in glob.glob(os.path.join(dims_dir, "seen-*"))
        }

    def _latest_dim():
        ids = _applied_ids()
        path = (
            os.path.join(dims_dir, f"batch-{ids[-1]:04d}")
            if ids
            else os.path.join(dims_dir, "init")
        )
        return spark.read.parquet(path)

    replayed: list[int] = []
    applied_calls: list[int] = []

    def sink(batch_df, batch_id):
        # IDEMPOTENT SINK (the foreachBatch at-least-once contract): the
        # seen-marker files are the processed-id ledger — a replayed
        # batch id is detected and skipped, never re-applied (snapshots
        # alone would miss replays of purchase-free batches)
        if batch_id in _seen_ids():
            replayed.append(batch_id)
            return

        def _mark_seen() -> None:
            # written AFTER the apply: a crash between snapshot and marker
            # replays the batch, whose snapshot overwrite is idempotent —
            # marker-first would instead DROP the batch on replay
            with open(
                os.path.join(dims_dir, f"seen-{batch_id:04d}"), "w"
            ) as fh:
                fh.write("1")

        purchases = batch_df.filter(F.col("event_type") == "purchase")
        if purchases.isEmpty():
            _mark_seen()
            return
        band = (
            F.when(F.col("value") >= 66.0, "H")
            .when(F.col("value") >= 33.0, "M")
            .otherwise("L")
        )
        ch = (
            purchases.select(
                "user_id",
                F.struct(
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                    F.col("event_id").alias("eid"),
                    band.alias("band"),
                ).alias("s"),
            )
            .groupBy("user_id")
            .agg(F.max("s").alias("s"))
            .select(
                "user_id",
                F.col("s.band").alias("attr"),
                F.col("s.us").alias("change_ts"),
            )
        )
        new_dim = scd2_apply(_latest_dim(), ch, "user_id", "attr")
        # snapshot write is the commit; the seen marker follows it
        new_dim.write.mode("overwrite").parquet(
            os.path.join(dims_dir, f"batch-{batch_id:04d}")
        )
        _mark_seen()
        applied_calls.append(batch_id)

    def run_pass(ckpt_dir: str) -> None:
        stream = events_stream(spark, scratch, max_files_per_trigger=1)
        q = (
            stream.writeStream.trigger(availableNow=True)
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        deadline = _time.time() + 180
        while q.isActive and _time.time() < deadline:
            _time.sleep(0.2)
        if q.isActive:
            q.stop()
            raise TimeoutError("s21 stream did not finish")
        q.awaitTermination()

    # phase 1: half the CDC slices, run to completion
    half = max(1, len(parts) // 2)
    for i, f in enumerate(parts[:half]):
        land(f, i)
    run_pass(ckpt)
    ids_after_1 = _applied_ids()

    # forced restart: resume from a checkpoint whose LAST commit marker
    # is missing — the exact on-disk state an ungraceful stop between
    # the sink's work and the commit leaves — so the resume REPLAYS that
    # batch id. The truncated checkpoint is a COPY at a fresh path
    # (restore-from-backup restart): Spark 4 caches the commit log per
    # checkpoint path in-process and flags an in-place deletion as
    # concurrent modification.
    ckpt2 = os.path.join(scratch, "ckpt_restored")
    shutil.copytree(ckpt, ckpt2)
    commits = [
        p
        for p in glob.glob(os.path.join(ckpt2, "commits", "*"))
        if _re.fullmatch(r"\d+", os.path.basename(p))
    ]
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    os.remove(last)
    # the Hadoop local FS keeps a .N.crc sibling; a leftover one blocks
    # the re-commit's rename on resume
    crc = os.path.join(
        os.path.dirname(last), f".{os.path.basename(last)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)

    # phase 2: the remaining slices land, resume from the restored ckpt
    for j, f in enumerate(parts[half:]):
        land(f, half + j)
    run_pass(ckpt2)

    if not replayed:
        raise AssertionError(
            "s21 restart: the resumed run never replayed the batch whose "
            "commit marker was removed — the at-least-once path was not "
            "exercised"
        )
    if len(set(applied_calls)) != len(applied_calls) or set(
        replayed
    ) & set(applied_calls[len(ids_after_1):]):
        raise AssertionError(
            "s21 restart: a replayed batch id was applied twice — the "
            "idempotent-sink ledger failed"
        )
    if len(_applied_ids()) < 3:
        raise AssertionError(
            f"s21 streaming SCD2 applied only {len(_applied_ids())} "
            "change batches"
        )
    return _latest_dim().select(
        "user_id", "attr", "valid_from", "valid_to"
    ).orderBy("user_id", "valid_from", "attr")


# s22: STREAMING SKETCH MAINTENANCE — the sk10 count-min sketch kept
# up-to-date by a Structured Streaming aggregation instead of a batch
# pass. CMS counters are plain sums, so incremental micro-batch
# maintenance must land on EXACTLY the batch sketch, cell by cell —
# the streaming analogue of sk09's shard-merge property (there: spatial
# partitioning; here: temporal). The graph is one streaming
# groupBy(r, c) count in complete mode (256 cells of state at any
# stream size — state is the SKETCH, which is the whole point of
# sketching an unbounded stream); the oracle rebuilds the grid from
# scratch over the same corpus. A production deployment reads the
# 256-row memory sink after any micro-batch for a live heavy-hitter
# estimate without ever rescanning the stream.

_S22_ORACLE = """
WITH s AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
rc AS (
  SELECT r.r AS r,
         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || v), 1, 15))
           ::BIGINT % 64 AS c
  FROM s, generate_series(0, 3) r(r))
SELECT CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
       CAST(COUNT(*) AS BIGINT) AS counter
FROM rc GROUP BY r, c
ORDER BY r, c
"""


@query(
    "s22_streaming_sketch", _S22_ORACLE,
    doc="streaming count-min maintenance: the 4x64 counter grid kept by "
        "a complete-mode streaming aggregation equals the batch sketch "
        "cell-by-cell — temporal mergeability, 256 cells of state",
)
def s22(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    cells = stream.select(
        F.col("user_id").cast("string").alias("v"),
        F.explode(F.expr("sequence(0, 3)")).alias("r"),
    ).select(
        F.col("r").cast("long").alias("r"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"), F.lit(":"), F.col("v")
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            F.lit(64),
        ).alias("c"),
    )
    sketch = cells.groupBy("r", "c").count()
    name = f"s22_cms_{uuid.uuid4().hex[:8]}"
    result = run_available_now(sketch, name, output_mode="complete")
    return result.select(
        "r", "c", F.col("count").alias("counter")
    ).orderBy("r", "c")


# --- s23: stream-stream FULL OUTER band join UNDER FORCED RESTART -------------
# The last stream-stream join mode (s05 inner, s15 left outer): FULL
# OUTER must hold state on BOTH sides and emit null-padded rows for
# unmatched purchases AND unmatched clicks, each only once its side's
# watermark closes the band. Round 9 (VERDICT r8 #6) adds the restart
# certification every other join mode family already carries: phase 1
# runs only the EARLY slices into a checkpointed parquet file sink and
# stops while both outer buffers still hold unmatched state (no
# sentinel has advanced the watermarks); the resume starts from a
# checkpoint COPY whose last commit marker was removed (the on-disk
# state of an ungraceful stop — the s21 pattern), REPLAYS that batch id
# (asserted; the file sink's _spark_metadata keeps its output
# exactly-once), recovers both sides' join state from the state store,
# and only then sees the remaining slices + two far-future sentinel
# files that flush both outer buffers — so the null pads emitted after
# the restart come from state built BEFORE it. Hash-matched against the
# batch FULL JOIN; both null-pad sides asserted non-empty. Keys are
# coalesced across sides (right-only rows carry a NULL left key), which
# is also how the sentinel rows are filtered out.

_S23_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT COALESCE(p.user_id, c.user_id) AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM p FULL JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 30 MINUTE
"""


@query(
    "s23_streaming_full_outer", _S23_ORACLE,
    doc="streaming certification: stream-stream FULL OUTER band join "
        "under a FORCED RESTART — both sides' buffered state recovered "
        "from a checkpoint missing its last commit marker, the batch "
        "replayed exactly-once into the file sink, null pads from "
        "pre-restart state flushed post-restart; hash-matched against "
        "the batch FULL JOIN",
)
def s23(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import re as _re
    import shutil

    from otterbrix_spark.streaming.pipeline import (
        run_available_now_to_files,
    )
    from otterbrix_spark.workload import scratch_dir

    # full corpus sliced + sentinels prepared in a SOURCE dir; the run's
    # own landing dir receives them in two phases around the restart
    sliced = _sliced_events_dir(spark, sf_dir, n_files=4)
    _append_sentinel_slices(spark, sf_dir, sliced, ("purchase", "click"))
    parts = sorted(
        glob.glob(os.path.join(sliced, "events.parquet", "part-*.parquet"))
    )
    scratch = scratch_dir("s23_fouter_")
    landing = os.path.join(scratch, "events.parquet")
    os.makedirs(landing)
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    base = 1_700_000_000

    def land(src_file: str, seq: int) -> None:
        dst = os.path.join(landing, f"part-{seq:04d}.parquet")
        shutil.copyfile(src_file, dst)
        os.utime(dst, (base + seq * 60, base + seq * 60))

    def graph() -> DataFrame:
        stream = events_stream(spark, scratch, max_files_per_trigger=1)

        def side(typ: str, idcol: str) -> DataFrame:
            return stream.filter(F.col("event_type") == typ).select(
                F.col("user_id"), F.col("event_id").alias(idcol), F.col("ts")
            )

        left = side("purchase", "purchase_id").withWatermark("ts", "2 hours")
        right = (
            side("click", "click_id")
            .withColumnRenamed("ts", "r_ts")
            .withColumnRenamed("user_id", "r_user")
            .withWatermark("r_ts", "2 hours")
        )
        return left.join(
            right,
            F.expr(
                "user_id = r_user AND r_ts >= ts "
                "AND r_ts <= ts + INTERVAL 30 MINUTE"
            ),
            "full_outer",
        ).select(
            F.coalesce("user_id", "r_user").alias("user_id"),
            "purchase_id",
            "click_id",
        )

    # phase 1: the early real slices only — no sentinel has advanced the
    # watermarks, so BOTH outer buffers still hold their unmatched rows
    # when the run stops
    half = max(1, (len(parts) - 2) // 2)
    for i, f in enumerate(parts[:half]):
        land(f, i)
    n1, _in1, _ids1 = run_available_now_to_files(
        graph(), out, ckpt, timeout_s=180.0
    )

    # forced restart: resume from a checkpoint COPY whose LAST commit
    # marker is missing — an ungraceful stop between the sink's write
    # and the commit (s21 pattern; the copy is needed because Spark 4
    # caches the commit log per checkpoint path in-process)
    ckpt2 = os.path.join(scratch, "ckpt_restored")
    shutil.copytree(ckpt, ckpt2)
    commits = [
        p
        for p in glob.glob(os.path.join(ckpt2, "commits", "*"))
        if _re.fullmatch(r"\d+", os.path.basename(p))
    ]
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    removed_id = int(os.path.basename(last))
    os.remove(last)
    crc = os.path.join(
        os.path.dirname(last), f".{os.path.basename(last)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)

    # phase 2: remaining real slices + the sentinels that flush both
    # outer buffers — the state they flush predates the restart
    for j, f in enumerate(parts[half:]):
        land(f, half + j)
    n2, _in2, ids2 = run_available_now_to_files(
        graph(), out, ckpt2, timeout_s=180.0
    )

    if removed_id not in ids2:
        raise AssertionError(
            "s23 restart: the resumed run never replayed the batch whose "
            "commit marker was removed"
        )
    if n1 < 1 or n2 < 2:
        raise AssertionError(
            f"s23 restart needs input batches on both sides of the "
            f"restart (run1={n1}, run2={n2})"
        )
    result = spark.read.parquet(out).filter(F.col("user_id") >= 0)
    pads_l = result.filter(F.col("click_id").isNull()).count()
    pads_r = result.filter(F.col("purchase_id").isNull()).count()
    if pads_l == 0 or pads_r == 0:
        raise AssertionError(
            f"s23: a null-pad side is empty after restart "
            f"(purchase-only={pads_l}, click-only={pads_r}) — an outer "
            "buffer was lost across the resume"
        )
    return result


# --- s24: streaming point-in-time SCD2 enrichment -----------------------------
# Completes the SCD family (x07 batch build, x08 batch as-of read, s21
# streaming build): the streaming READ side — every purchase event is
# enriched with the dimension attribute that was valid AT ITS EVENT
# TIME, not the current one. The SCD2 dimension is static per batch
# (the slowly-changing side), so the join broadcasts it with an equi
# key + validity-interval residual — a stateless stream-static join
# (no watermark, no state store), which is exactly how a deployment
# does point-in-time feature lookup on a stream. Multi-batch asserted;
# the oracle replays the dimension algebra + interval join in SQL.

_S24_ORACLE = """
WITH dim0 AS (
  SELECT c_custkey AS k, c_mktsegment AS attr,
         CAST(0 AS BIGINT) AS vf, CAST(NULL AS BIGINT) AS vt
  FROM customer),
ch1 AS (
  SELECT o_custkey AS k, 'PRIORITY' AS attr,
         MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS ts
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
d1 AS (
  SELECT d.k, d.attr, d.vf,
         CASE WHEN c.k IS NOT NULL AND c.attr <> d.attr
              THEN c.ts END AS vt
  FROM dim0 d LEFT JOIN ch1 c USING (k)
  UNION ALL
  SELECT c.k, c.attr, c.ts, NULL
  FROM ch1 c JOIN dim0 d USING (k) WHERE c.attr <> d.attr),
f AS (
  SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase')
SELECT d.attr,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(f.cents) AS BIGINT) AS cents,
       CAST(COUNT(DISTINCT f.k) AS BIGINT) AS n_users
FROM f JOIN d1 d
  ON f.k = d.k AND d.vf <= f.ts AND (d.vt IS NULL OR f.ts < d.vt)
GROUP BY 1 ORDER BY 1
"""


@query(
    "s24_streaming_scd2_lookup", _S24_ORACLE,
    doc="streaming point-in-time SCD2 enrichment: purchases joined to "
        "the attribute valid AT EVENT TIME via a broadcast stream-static "
        "join (equi key + validity-interval residual, stateless); "
        "multi-batch; oracle replays the dimension algebra + interval "
        "join",
)
def s24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.scd import scd2_apply
    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.streaming.pipeline import run_available_now_counted

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim0 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    ch1 = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.min(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            ).alias("change_ts")
        )
        .withColumn("attr", F.lit("PRIORITY"))
    )
    d1 = scd2_apply(dim0, ch1, "k", "attr").select(
        "k", "attr", "valid_from", "valid_to"
    )

    landing = _sliced_events_dir(spark, sf_dir, n_files=3)
    stream = events_stream(spark, landing, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    enriched = stream.join(
        F.broadcast(d1),
        (stream.user_id == d1.k)
        & (d1.valid_from <= us)
        & (d1.valid_to.isNull() | (us < d1.valid_to)),
    ).select(
        "attr", "user_id",
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    name = f"s24_lookup_{uuid.uuid4().hex[:8]}"
    result, n_batches, _stats = run_available_now_counted(
        enriched, name, timeout_s=180.0, output_mode="append"
    )
    if n_batches < 3:
        raise AssertionError(
            f"s24 ran only {n_batches} input micro-batches"
        )
    return (
        result.groupBy("attr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("attr")
    )


def _delta_closure(prev, batch_df):
    """One incremental closure step: extend ``prev`` (a (node, anc) pair
    frame or None) with a micro-batch of new edges. Frontier = the new
    pairs; each iteration grows only through paths touching them, so the
    loop is bounded by the NEW-path diameter, not the graph diameter.
    Returns the new closure, localCheckpointed (bounded lineage)."""
    n = batch_df.select("node", "anc").distinct().localCheckpoint(
        eager=True
    )
    t = n if prev is None else prev.unionByName(n).distinct()
    p = n
    while True:
        left = t.alias("t").join(
            p.alias("p"), F.col("t.anc") == F.col("p.node")
        ).select(
            F.col("t.node").alias("node"), F.col("p.anc").alias("anc")
        )
        right = p.alias("p").join(
            t.alias("t"), F.col("p.anc") == F.col("t.node")
        ).select(
            F.col("p.node").alias("node"), F.col("t.anc").alias("anc")
        )
        p2 = (
            left.unionByName(right).distinct()
            .join(t, ["node", "anc"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if p2.isEmpty():
            break
        t = t.unionByName(p2).distinct().localCheckpoint(eager=True)
        p = p2
    return t.localCheckpoint(eager=True)


# --- s25: incremental transitive-closure maintenance over a stream -----------
# The reference executes WITH RECURSIVE through its streaming pipeline
# executor (test_streaming_recursive_cte.cpp: anchor + every fixpoint
# pass streams); on Spark the analogue surface is MAINTAINING a
# recursive result as edges arrive — foreachBatch + delta expansion.
# Algorithm per micro-batch of new edges N over closure C:
#   T = C ∪ N; frontier P = N;
#   repeat: P' = (T ∘ P ∪ P ∘ T) \ T;  T ∪= P';  P = P'  until empty —
# every iteration grows only through paths touching NEW pairs, so the
# loop is bounded by the new-path diameter, not the graph diameter (the
# production property that makes closure maintenance feasible under
# streaming ingest; recomputing from scratch per batch is the naive
# O(full-graph) alternative). Edges arrive in arbitrary order (sliced by
# key residue, not topologically) — the final closure must equal the
# batch closure of the union, which the recursive oracle pins. State
# frames are localCheckpointed per batch (bounded lineage); a production
# deployment would keep C in a Delta table — the documented seam.

_S25_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey // 3 AS anc
  FROM customer WHERE c_custkey >= 1
  UNION ALL
  SELECT a.node, a.anc // 3 FROM anc a WHERE a.anc >= 1
)
SELECT CAST(n_anc AS BIGINT) AS n_anc,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS node_sum
FROM (SELECT node, COUNT(DISTINCT anc) AS n_anc FROM anc GROUP BY node)
GROUP BY n_anc ORDER BY n_anc
"""


@query(
    "s25_streaming_closure", _S25_ORACLE,
    doc="incremental transitive-closure maintenance: foreachBatch delta "
        "expansion bounded by new-path diameter (not graph diameter), "
        "edges streamed in non-topological order; equals the batch "
        "closure of the union per the recursive oracle",
)
def s25(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import time as _time

    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.workload import scratch_dir

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey DIV 3").alias("anc"),
    ).filter(F.col("node") >= 1)

    # land 3 slices by key residue — deliberately NOT topological order
    scratch = scratch_dir("s25_landing_")
    out = os.path.join(scratch, "edges.parquet")
    os.makedirs(out)
    for i in range(3):
        part = edges.filter(F.col("node") % 3 == i)
        tmp_i = os.path.join(scratch, f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_i)
        dst = os.path.join(out, f"part-{i:04d}.parquet")
        shutil.move(_only_part_file(tmp_i), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    state: dict = {"closure": None, "batches": 0}

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        state["closure"] = _delta_closure(state["closure"], batch_df)
        state["batches"] += 1

    stream = (
        spark.readStream.schema("node BIGINT, anc BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .start()
    )
    deadline = _time.time() + 300
    while q.isActive and _time.time() < deadline:
        _time.sleep(0.2)
    if q.isActive:
        q.stop()
        raise TimeoutError("s25 stream did not finish")
    if state["batches"] < 3:
        raise AssertionError(
            f"s25 ran only {state['batches']} input micro-batches"
        )
    closure = state["closure"]
    return (
        closure.groupBy("node")
        .agg(F.countDistinct("anc").cast("long").alias("n_anc"))
        .groupBy("n_anc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_sum"),
        )
        .orderBy("n_anc")
    )


# --- s26: closure maintenance under forced restart -----------------------------
# Completes the restart matrix (s10 dedup, s21 SCD2, s23 join-state,
# s26 iterative/recursive state): the s25 incremental closure now
# persists its state as per-batch parquet snapshots behind an
# idempotent seen-ledger sink, the stream is killed by restoring a
# checkpoint COPY missing its LAST commit marker (the on-disk state an
# ungraceful stop leaves), and the resume REPLAYS that batch id — the
# ledger skips the re-apply (snapshot overwrite would also be
# idempotent: closure extension with already-seen edges is a no-op).
# Final histogram must equal the recursive batch oracle of the union.

_S26_ORACLE = _S25_ORACLE


@query(
    "s26_closure_restart", _S26_ORACLE,
    doc="incremental-closure restart certification: per-batch persisted "
        "snapshots + idempotent seen-ledger, forced resume from a "
        "checkpoint missing its last commit marker replays the batch "
        "exactly once; equals the batch closure of the union",
)
def s26(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import re as _re
    import shutil
    import time as _time

    from otterbrix_spark.sources.registry import load_table
    from otterbrix_spark.workload import scratch_dir

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey DIV 3").alias("anc"),
    ).filter(F.col("node") >= 1)

    scratch = scratch_dir("s26_landing_")
    slices = []
    for i in range(4):
        part = edges.filter(F.col("node") % 4 == i)
        tmp_i = os.path.join(scratch, f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_i)
        slices.append(_only_part_file(tmp_i))
    landing = os.path.join(scratch, "edges.parquet")
    os.makedirs(landing)
    state_dir = os.path.join(scratch, "closure_state")
    os.makedirs(state_dir)
    ckpt = os.path.join(scratch, "ckpt")
    base = 1_700_000_000

    def land(src_file: str, seq: int) -> None:
        dst = os.path.join(landing, f"part-{seq:04d}.parquet")
        shutil.copyfile(src_file, dst)
        os.utime(dst, (base + seq * 60, base + seq * 60))

    def _seen_ids() -> set:
        return {
            int(os.path.basename(p).split("-")[1])
            for p in glob.glob(os.path.join(state_dir, "seen-*"))
        }

    def _applied_ids() -> list:
        return sorted(
            int(os.path.basename(p).split("-")[1])
            for p in glob.glob(os.path.join(state_dir, "batch-*"))
        )

    def _latest_closure():
        ids = _applied_ids()
        if not ids:
            return None
        return spark.read.parquet(
            os.path.join(state_dir, f"batch-{ids[-1]:04d}")
        )

    replayed: list = []

    def sink(batch_df, batch_id):
        if batch_id in _seen_ids():
            replayed.append(batch_id)
            return
        if not batch_df.isEmpty():
            t = _delta_closure(_latest_closure(), batch_df)
            t.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"batch-{batch_id:04d}")
            )
        # marker AFTER the apply: a crash between them replays the
        # batch, whose snapshot overwrite is idempotent
        open(os.path.join(state_dir, f"seen-{batch_id:04d}"), "w").close()

    def run_pass(ck: str) -> None:
        stream = (
            spark.readStream.schema("node BIGINT, anc BIGINT")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = (
            stream.writeStream.trigger(availableNow=True)
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )
        deadline = _time.time() + 300
        while q.isActive and _time.time() < deadline:
            _time.sleep(0.2)
        if q.isActive:
            q.stop()
            raise TimeoutError("s26 stream did not finish")
        q.awaitTermination()

    # phase 1: half the slices
    for i, f in enumerate(slices[:2]):
        land(f, i)
    run_pass(ckpt)

    # forced restart from a checkpoint copy missing its last commit
    ckpt2 = os.path.join(scratch, "ckpt_restored")
    shutil.copytree(ckpt, ckpt2)
    commits = [
        p for p in glob.glob(os.path.join(ckpt2, "commits", "*"))
        if _re.fullmatch(r"\d+", os.path.basename(p))
    ]
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    os.remove(last)
    crc = os.path.join(
        os.path.dirname(last), f".{os.path.basename(last)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)

    for j, f in enumerate(slices[2:]):
        land(f, 2 + j)
    run_pass(ckpt2)

    if not replayed:
        raise AssertionError(
            "s26 restart: the resumed run never replayed the batch whose "
            "commit marker was removed"
        )
    if len(_applied_ids()) < 3:
        raise AssertionError(
            f"s26 applied only {len(_applied_ids())} closure batches"
        )
    closure = _latest_closure()
    return (
        closure.groupBy("node")
        .agg(F.countDistinct("anc").cast("long").alias("n_anc"))
        .groupBy("n_anc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_sum"),
        )
        .orderBy("n_anc")
    )


# --- s27: streaming windowed quantiles from mergeable bucket counts -----------
# Order statistics over a stream: exact quantiles are not a streaming
# aggregate, but an integer-bucketed HISTOGRAM is (counts merge across
# micro-batches by addition — the sk01/sk13 mergeability discipline
# applied to streaming state). The graph streams >= 3 real micro-batches
# of per-(day, floor(value)) purchase counts; the batch post-pass reads
# each day's p50/p90 off the cumulative histogram with integer
# cross-multiplied rank thresholds (cum*2 >= total / cum*10 >= 9*total).
# The oracle replays histogram + quantile selection exactly.

_S27_ORACLE = """
WITH b AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(FLOOR(value) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
c AS (
  SELECT day, bucket, n,
         SUM(n) OVER (PARTITION BY day ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY day) AS total
  FROM b)
SELECT day, CAST(total AS BIGINT) AS total,
       CAST(MIN(CASE WHEN cum * 2 >= total THEN bucket END) AS BIGINT)
         AS p50_bucket,
       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket END) AS BIGINT)
         AS p90_bucket
FROM c GROUP BY day, total ORDER BY day
"""


@query(
    "s27_streaming_quantile_histogram", _S27_ORACLE,
    doc="streaming exact quantiles via mergeable integer histogram: "
        ">= 3 real micro-batches of per-(day, bucket) counts (complete "
        "mode), p50/p90 read off the cumulative histogram with integer "
        "rank thresholds — hash-matched against the batch replay",
)
def s27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from otterbrix_spark.streaming.pipeline import (
        events_stream,
        run_available_now_counted,
    )

    landing = _sliced_events_dir(spark, sf_dir, n_files=4)
    stream = events_stream(spark, landing, max_files_per_trigger=1)
    buckets = (
        stream.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.floor("value").cast("long").alias("bucket"),
        )
        .count()
    )
    name = f"s27_qh_{uuid.uuid4().hex[:8]}"
    result, n_batches, _state = run_available_now_counted(
        buckets, name, output_mode="complete"
    )
    if n_batches < 3:
        raise AssertionError(
            f"multi-batch certification ran only {n_batches} input batches"
        )
    hist = result.select(
        F.col("w.start").cast("date").alias("day"),
        "bucket",
        F.col("count").alias("n"),
    )
    cum = hist.select(
        "day", "bucket", "n",
        F.sum("n").over(
            Window.partitionBy("day").orderBy("bucket")
        ).alias("cum"),
        F.sum("n").over(Window.partitionBy("day")).alias("total"),
    )
    return (
        cum.groupBy("day", F.col("total").cast("long").alias("total"))
        .agg(
            F.min(F.when(F.expr("cum * 2 >= total"), F.col("bucket")))
            .cast("long").alias("p50_bucket"),
            F.min(F.when(F.expr("cum * 10 >= total * 9"), F.col("bucket")))
            .cast("long").alias("p90_bucket"),
        )
        .orderBy("day")
    )
