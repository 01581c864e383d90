"""time_bucket rollup: bucket arithmetic, materialize + incremental
refresh ≡ full rebuild, and day-partition pruning on the stored layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kaer_spark.functions.time import read_events
from kaer_spark.operators.rollup import (
    DEFAULT_AGGS,
    NS_PER_SECOND,
    materialize_rollup,
    read_rollup,
    refresh_rollup,
    rollup,
    time_bucket,
)

HOUR_NS = 3_600 * NS_PER_SECOND


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    # the engine-wide ts normalization — whatever physical type the fixture
    # has this round, tests see BIGINT epoch-nanos like every operator does
    return read_events(spark, sf_dir)


def _snapshot(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_time_bucket_boundaries(spark):
    df = spark.createDataFrame(
        [(0,), (HOUR_NS - 1,), (HOUR_NS,), (3 * HOUR_NS + 5,)], "ts long"
    )
    got = [r[0] for r in df.select(time_bucket("ts", HOUR_NS)).collect()]
    assert got == [0, 0, 3600, 3 * 3600]


def test_rollup_matches_manual_groupby(events):
    got = rollup(events, HOUR_NS, dims=["event_type"])
    manual = (
        events.groupBy(
            (F.expr(f"ts DIV {HOUR_NS}") * 3600).alias("bucket_epoch"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    assert _snapshot(got) == _snapshot(manual)


def test_materialize_and_incremental_refresh(events, tmp_path):
    """Split the fixture at a mid-range day boundary: materialize the old
    half, refresh with the full source, and the stored rollup must equal a
    from-scratch rebuild — including the partial day that straddled the
    split (its partition is recomputed whole)."""
    path = str(tmp_path / "rollup")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    split = lo + (hi - lo) // 2
    old = events.filter(F.col("ts") < split)
    spec = materialize_rollup(
        old, path, HOUR_NS, dims=["event_type"], lateness_ns=0
    )
    assert spec["high_water_ns"] == old.agg(F.max("ts")).collect()[0][0]

    spec2 = refresh_rollup(events, path)
    assert spec2["high_water_ns"] == hi

    spark = events.sparkSession
    stored = read_rollup(spark, path).drop("bucket_day")
    rebuilt = rollup(events, HOUR_NS, dims=["event_type"])
    assert _snapshot(stored) == _snapshot(rebuilt)


def test_refresh_is_idempotent(events, tmp_path):
    path = str(tmp_path / "rollup")
    materialize_rollup(events, path, HOUR_NS, dims=["event_type"])
    before = _snapshot(read_rollup(events.sparkSession, path))
    refresh_rollup(events, path)  # no new data
    after = _snapshot(read_rollup(events.sparkSession, path))
    assert before == after


def test_lateness_window_recomputes_older_days(events, tmp_path):
    """With a 2-day lateness allowance, rows landing 1 day late are picked
    up by refresh; the same rows 3 days late would be outside the contract."""
    path = str(tmp_path / "rollup")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    late_cutoff = hi - 86_400 * NS_PER_SECOND  # last day's rows arrive late
    on_time = events.filter(F.col("ts") < late_cutoff)
    materialize_rollup(
        on_time, path, HOUR_NS, dims=["event_type"],
        lateness_ns=2 * 86_400 * NS_PER_SECOND,
    )
    refresh_rollup(events, path)
    stored = read_rollup(events.sparkSession, path).drop("bucket_day")
    rebuilt = rollup(events, HOUR_NS, dims=["event_type"])
    assert _snapshot(stored) == _snapshot(rebuilt)


def test_day_partition_layout_prunes(events, tmp_path):
    path = str(tmp_path / "rollup")
    materialize_rollup(events, path, HOUR_NS, dims=["event_type"])
    days = sorted(
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("bucket_day=")
    )
    assert len(days) > 1, "fixture should span multiple days"
    spark = events.sparkSession
    one_day = read_rollup(spark, path).filter(F.col("bucket_day") == days[0])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # partition filter prunes to a single directory — the scan must not
    # enumerate every day
    assert f"bucket_day = {days[0]}" in plan or "PartitionFilters" in plan
    got_days = {r[0] for r in one_day.select("bucket_day").distinct().collect()}
    assert got_days == {days[0]}


def test_misaligned_width_rejected(events, tmp_path):
    with pytest.raises(ValueError):
        materialize_rollup(events, str(tmp_path / "r"), 7_000 * NS_PER_SECOND)
