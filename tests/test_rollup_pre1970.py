"""Rollup buckets floor, before 1970 too: every bucket and chunk id is
``floor(us / width) * width``, and build + refresh still equals the full
one-shot aggregate when the refreshed buckets are negative."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from otterbrix_spark.operators.rollup import (
    CoarsenedAggregate,
    ContinuousAggregate,
    _aggregate,
    _bucketed,
)

HOUR_US = 3_600_000_000

EARLY = [
    Row(ts="1969-12-30 05:00:00", event_type="view", value=1.0),
    Row(ts="1969-12-31 22:10:00", event_type="view", value=2.0),
    Row(ts="1969-12-31 23:30:00", event_type="view", value=3.0),
    Row(ts="1970-01-01 00:10:00", event_type="click", value=4.0),
]
# lands in the pre-1970 buckets the build already wrote: a refresh that
# computed a different chunk id than the build would leave them stale
LATE = [
    Row(ts="1969-12-31 23:45:00", event_type="view", value=5.0),
    Row(ts="1969-12-30 05:59:59", event_type="view", value=6.0),
]


def _rows(df, key):
    return {
        (r[key], r["event_type"]): (r["n"], r["qsum"]) for r in df.collect()
    }


def test_buckets_floor_before_1970(spark):
    ev = spark.createDataFrame(EARLY + LATE)
    got = _bucketed(ev, 1).select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "bucket_us"
    ).collect()
    assert any(r["us"] < 0 and r["us"] % HOUR_US for r in got)
    for r in got:
        assert r["bucket_us"] == r["us"] // HOUR_US * HOUR_US, r


def test_refresh_equals_full_aggregate_before_1970(spark, tmp_path):
    early = spark.createDataFrame(EARLY)
    late = spark.createDataFrame(LATE)
    source = early.unionByName(late)

    hourly = ContinuousAggregate(spark, str(tmp_path / "hourly"), bucket_hours=1)
    daily = CoarsenedAggregate(spark, str(tmp_path / "daily"), bucket_hours=24)
    hourly.build(early)
    daily.build(hourly.df())
    touched = hourly.refresh(source=source, delta=late)
    assert touched and all(b < 0 for b in touched)
    assert _rows(hourly.df(), "bucket_us") == _rows(
        _aggregate(_bucketed(source, 1)), "bucket_us"
    )

    assert daily.refresh(hourly.df(), touched)
    assert _rows(daily.df(), "coarse_us") == _rows(
        _aggregate(_bucketed(source, 24)).withColumnRenamed(
            "bucket_us", "coarse_us"
        ),
        "coarse_us",
    )
