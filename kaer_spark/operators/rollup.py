"""Hypertable-style time-bucket rollups: bucket → aggregate → materialize →
incremental refresh.

The reference has no time-series surface; this is part of the engine's
analytics extension (SURVEY §2 stretch list), modeled on TimescaleDB's
``time_bucket`` + continuous aggregates, re-expressed Spark-first:

* ``time_bucket`` is pure integer arithmetic on int64 epoch-nanos (the
  events fixture's native representation — Spark reads TIMESTAMP(NANOS)
  parquet via ``nanosAsLong``). Integer ``DIV`` keeps bucket boundaries
  exact; float math would wobble at exact boundaries.
* the rollup itself is one ``groupBy(bucket, dims)`` — a single shuffle
  with map-side partial aggregation, the minimal shape.
* materialization writes parquet PARTITIONED BY bucket-day, so time-range
  reads prune at the directory level and refresh can replace whole days
  idempotently (dynamic partition overwrite).
* refresh is incremental: only days at/after the stored high-water mark
  (minus a declared ``lateness`` allowance) are recomputed from the source
  and overwritten. Late data older than the allowance is ignored — the
  same contract as a watermarked streaming aggregation; pick ``lateness``
  accordingly. At 100 TB the refresh cost is O(new days), not O(history).

Aggregates are declared as name → SQL expression strings and persisted in
the sidecar spec, so a refresh job recomputes EXACTLY what the original
build computed (no drifting lambdas), and double SUMs can route through
DECIMAL accumulation for cross-engine determinism.
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaer_spark.functions.time import NS_PER_DAY, NS_PER_SECOND, normalize_epoch_ns
from kaer_spark.sources.files import read_parquet, read_sidecar, write_sidecar

SPEC_FILE = "_rollup_spec.json"

#: default aggregate set for the events fixture — DECIMAL-accumulated sum
#: (bit-stable across engines), plain count
DEFAULT_AGGS: Mapping[str, str] = {
    "n": "count(*)",
    "sum_value": "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)",
}


def time_bucket(ts_col: str | Column, width_ns: int, unit_s: bool = True) -> Column:
    """Floor an int64 epoch-nanos column to ``width_ns`` buckets.

    Returns the bucket start as epoch-SECONDS (``unit_s=True``, the compact
    form the fixture queries use) or epoch-nanos.
    """
    col = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    bucket_ns = (col - (col % F.lit(width_ns))).cast("long")
    if unit_s:
        return (bucket_ns / F.lit(NS_PER_SECOND)).cast("long")
    return bucket_ns


def rollup(
    df: DataFrame,
    width_ns: int,
    dims: Sequence[str] = (),
    aggs: Mapping[str, str] = DEFAULT_AGGS,
    ts_col: str = "ts",
) -> DataFrame:
    """Bucketed aggregate: one shuffle on (bucket, dims), partials map-side.

    ``ts_col`` may be BIGINT epoch-nanos or any timestamp type — normalized
    through :func:`kaer_spark.functions.time.normalize_epoch_ns` (the single
    engine-wide definition) before bucketing.
    """
    df = normalize_epoch_ns(df, ts_col)
    exprs = [F.expr(sql).alias(name) for name, sql in aggs.items()]
    return df.groupBy(
        time_bucket(ts_col, width_ns).alias("bucket_epoch"), *dims
    ).agg(*exprs)


def _with_bucket_day(out: DataFrame) -> DataFrame:
    # bucket_epoch is epoch-seconds; integer-truncating day index
    return out.withColumn(
        "bucket_day", (F.col("bucket_epoch") / F.lit(86_400)).cast("long")
    )


def materialize_rollup(
    df: DataFrame,
    path: str,
    width_ns: int,
    dims: Sequence[str] = (),
    aggs: Mapping[str, str] = DEFAULT_AGGS,
    ts_col: str = "ts",
    lateness_ns: int = 0,
) -> dict:
    """Full build: write the rollup partitioned by bucket day + sidecar spec.

    ``width_ns`` must divide a day (or a day must divide it) so no bucket
    straddles two day-partitions — enforced, because refresh replaces whole
    day directories.
    """
    if NS_PER_DAY % width_ns != 0 and width_ns % NS_PER_DAY != 0:
        raise ValueError(f"width_ns {width_ns} must align with day boundaries")
    df = normalize_epoch_ns(df, ts_col)
    out = _with_bucket_day(rollup(df, width_ns, dims, aggs, ts_col))
    out.write.mode("overwrite").partitionBy("bucket_day").parquet(path)
    high_water = df.agg(F.max(F.col(ts_col).cast("long"))).collect()[0][0] or 0
    spec = {
        "width_ns": int(width_ns),
        "dims": list(dims),
        "aggs": dict(aggs),
        "ts_col": ts_col,
        "lateness_ns": int(lateness_ns),
        "high_water_ns": int(high_water),
    }
    write_sidecar(os.path.join(path, SPEC_FILE), spec)
    return spec


def refresh_rollup(df: DataFrame, path: str) -> dict:
    """Incremental refresh from the (grown) source.

    Recomputes only day partitions that can contain new or revised buckets:
    those at/after ``high_water - lateness``. Uses dynamic partition
    overwrite so touched days are replaced atomically per-directory and
    untouched history is never rewritten — idempotent under retry.
    """
    spec = read_sidecar(os.path.join(path, SPEC_FILE))
    ts_col = spec["ts_col"]
    df = normalize_epoch_ns(df, ts_col)
    refresh_from = max(0, spec["high_water_ns"] - spec["lateness_ns"])
    # snap to the containing day boundary: whole-day replacement
    refresh_day_start = refresh_from - (refresh_from % NS_PER_DAY)
    fresh = df.filter(F.col(ts_col).cast("long") >= F.lit(refresh_day_start))
    out = _with_bucket_day(rollup(fresh, spec["width_ns"], spec["dims"], spec["aggs"], ts_col))
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("bucket_day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    high_water = df.agg(F.max(F.col(ts_col).cast("long"))).collect()[0][0] or 0
    spec["high_water_ns"] = int(max(high_water, spec["high_water_ns"]))
    write_sidecar(os.path.join(path, SPEC_FILE), spec)
    return spec


def sliding_rollup(
    df: DataFrame,
    width_days: int = 7,
    dims: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Sliding-window daily aggregate: per (day, dims), the trailing
    ``width_days``-day event count and ``value_col`` sum.

    Two stages: the usual one-shuffle daily rollup, then a RANGE window
    over the integer day index (``[day - width + 1, day]``) per dims — the
    window input is one row per (day, dims), so the second stage is
    measured in days, not events, at any corpus size. The value sum is
    re-accumulated in DECIMAL inside the frame (exact, order-free: a
    double moving sum would depend on the engine's frame iteration order).
    """
    df = normalize_epoch_ns(df, ts_col)
    daily = df.groupBy(
        F.expr(f"{ts_col} DIV {NS_PER_DAY}").alias("day"), *dims
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__sum_dec"),
    )
    w = (
        Window.partitionBy(*dims)
        .orderBy("day")
        .rangeBetween(-(int(width_days) - 1), 0)
    )
    return daily.select(
        "day",
        *dims,
        F.sum("n").over(w).alias(f"n_{width_days}d"),
        F.sum("__sum_dec").over(w).cast("double").alias(f"sum_value_{width_days}d"),
    )


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Read the materialized rollup (partition column included)."""
    return read_parquet(spark, path)
