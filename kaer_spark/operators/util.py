"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition if the input may have too few partitions.

    A small parquet table arrives as one split, which serializes
    expression-heavy narrow stages (shingling, hashing) onto a single core.

    Never executes anything: the decision is read from the physical plan.

    * Not AQE-rooted (a scan, a ``localCheckpoint``, local rows, and
      narrow operators over them): the split count is read from the
      planned RDD, which fires no job. A many-split production scan is
      returned unchanged.
    * AQE-rooted (``AdaptiveSparkPlan``; the engine's sessions pin AQE on,
      so any exchange or subquery roots the plan there): widened
      unconditionally. Its partition count is only known once its
      upstream shuffles have run, so probing it would run them as a
      separate execution the real job does not reuse. And the answer
      would usually be "too few": AQE coalesces a small shuffle's output
      below the core count. At scale the widening costs one round-robin
      exchange of the input, never a re-run of its upstream.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    root = df._jdf.queryExecution().executedPlan().nodeName()
    if root != "AdaptiveSparkPlan" and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def watermark_health_cols(out: DataFrame, wm, corpus, corpus_id_col: str):
    """Staleness columns for an index-stats report, typed by the id
    column's own domain (refreshable indexes bless int AND string ids —
    ``dedup._json_id`` — so a stats surface that ``int()``-coerces the
    watermark raises on every string-keyed index, and ``CAST(<string> AS
    long)`` silently nulls the watermark column).

    * int (or None) watermark: ``watermark`` long + ``watermark_lag``
      long (live max − watermark), the original numeric contract;
    * string watermark: ``watermark`` string + ``is_stale`` boolean via
      the same ordering comparison refresh filters use (a string id's
      "lag" has no magnitude);
    * mixed domains (int index, string corpus or vice versa): loud
      ValueError — the comparison would be meaningless.

    ``corpus=None`` emits only the watermark column."""
    from pyspark.sql import functions as F

    is_int_wm = wm is None or isinstance(wm, int)
    if is_int_wm:
        out = out.withColumn("watermark", F.lit(wm).cast("long"))
    else:
        out = out.withColumn("watermark", F.lit(wm).cast("string"))
    if corpus is None:
        return out
    live_max = corpus.agg(F.max(F.col(corpus_id_col))).collect()[0][0]
    is_int_live = live_max is None or isinstance(live_max, int)
    if is_int_wm and is_int_live:
        lag = (
            int(live_max) - int(wm)
            if live_max is not None and wm is not None
            else 0
        )
        return out.withColumn("watermark_lag", F.lit(lag).cast("long"))
    if not is_int_wm and (live_max is None or isinstance(live_max, str)):
        stale = live_max is not None and (wm is None or live_max > wm)
        return out.withColumn("is_stale", F.lit(bool(stale)))
    raise ValueError(
        f"index watermark ({type(wm).__name__}) and corpus id column "
        f"{corpus_id_col!r} ({type(live_max).__name__}) live in different "
        "domains — staleness comparison would be meaningless"
    )


def global_ranked(df: DataFrame, order_cols: list, rank_col: str = "_rn") -> DataFrame:
    """``df`` + an exact global ``row_number`` under ``order_cols`` —
    WITHOUT a single-partition sort (r16 verdict wrong #3: the stats
    operators' quantile selectors ranked one-row-per-doc/bucket sets
    through ``Window.orderBy(...)``, which funnels the whole set through
    one reducer; invisible at sf-scale, a billion-skinny-row funnel at
    10⁹ docs).

    Two-level rank selection: range-repartition by the order columns
    (partition *i*'s rows all sort before partition *i+1*'s), sort
    within partitions, then ``rank = per-partition row_number +
    partition offset``, with the offsets computed from per-partition
    counts — a driver-side list bounded by the PARTITION count, never
    the row count. Bit-exact: when the order is total (call sites all
    carry unique tiebreakers) the ranks are exactly the global window's;
    with duplicate full keys straddling a range boundary the ranks are
    still a valid permutation of the tied run, so rank-selection
    QUANTILE VALUES are unchanged either way.

    Offsets are computed IN-PLAN (r17 optimization: the original pinned
    the partition assignment with an eager ``localCheckpoint`` and pulled
    per-partition counts to the driver — one blocking materialization job
    plus a collect round-trip per call, which doubled every index-stats
    row at fixture scale): the per-partition counts aggregate and the
    rank window both hang off the SAME range exchange, which Spark
    executes once and reuses (``ReusedExchange`` — plan-asserted in
    ``tests/test_plans.py``), so both branches see identical row
    placement by construction; the cumulative-sum window that turns
    counts into offsets orders one row PER PARTITION (bounded by the
    shuffle-partition conf, never by row count), and the offsets join
    back is an explicit broadcast of that same tiny set.

    Two safety nets make the placement agreement robust rather than
    lucky: exchange reuse shares the one shuffle, and
    ``repartitionByRange``'s boundary sampling is seeded per partition
    index (deterministic given deterministic input — every call site
    ranks parquet-derived frames). A non-deterministic input (e.g. fresh
    ``rand()`` keys) is outside this function's contract."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("_gr_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        part.groupBy("_gr_pid")
        .agg(F.count("*").alias("_gr_cnt"))
        .select(
            "_gr_pid",
            F.coalesce(F.sum("_gr_cnt").over(w_off), F.lit(0)).alias(
                "_gr_off"
            ),
        )
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w) + F.col("_gr_off")).cast("long"),
        )
        .drop("_gr_pid", "_gr_off")
    )
