"""Event-time normalization: ONE definition of "epoch-nanos" for the engine.

The driver's events fixture has changed physical timestamp type across
rounds — TIMESTAMP(NANOS) parquet (which Spark can only read via
``spark.sql.legacy.parquet.nanosAsLong``, arriving as int64 nanos) and
TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ). Every event-time operator
in this engine works in integer epoch-nanos (exact arithmetic, identical
on Spark and the DuckDB oracles via ``epoch_ns(ts)``), so all consumers —
``__spark_entry__``, ``operators.rollup``, ``streaming``, tests — MUST
normalize through this module rather than re-deriving the cast locally.
Round 4 proved why: the entry was patched for a fixture type flip but the
library was not, and the same operator was simultaneously green in the
driver and red in pytest.

The NTZ→instant cast is lossless because the session timezone is pinned
UTC (kaer_spark.session). The conversion is a pure projection that
Catalyst folds into the scan stage — no extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaer_spark.sources.files import read_parquet

NS_PER_MICRO = 1_000
NS_PER_SECOND = 1_000_000_000
NS_PER_DAY = 86_400 * NS_PER_SECOND

#: timestamp-typed dtypes that must be converted to epoch-nanos
_TS_DTYPES = ("timestamp", "timestamp_ntz")


def normalize_epoch_ns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Return ``df`` with ``ts_col`` as BIGINT epoch-nanos, whatever the
    physical type was.

    * already ``bigint``/``long`` (nanos-as-long parquet read) → passthrough
    * ``timestamp`` / ``timestamp_ntz`` (micros fixture) →
      ``unix_micros(cast(ts as timestamp)) * 1000``

    Works on batch and streaming DataFrames (dtype inspection only).
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype is None:
        raise ValueError(f"column {ts_col!r} not found in {df.columns}")
    if dtype == "bigint":
        return df
    if dtype in _TS_DTYPES:
        return df.withColumn(
            ts_col, F.unix_micros(F.col(ts_col).cast("timestamp")) * F.lit(NS_PER_MICRO)
        )
    raise TypeError(
        f"column {ts_col!r} has dtype {dtype}; expected bigint or timestamp"
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events fixture with ``ts`` normalized to epoch-nanos.

    Sets ``nanosAsLong`` first so a TIMESTAMP(NANOS) fixture is readable at
    all; then normalizes whichever representation arrived.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_epoch_ns(read_parquet(spark, f"{sf_dir}/events.parquet"))
