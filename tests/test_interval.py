"""Interval (range-band) join: keyed band join and keyless bucketed band
join, checked against a brute-force cross-product reference on small data."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaer_spark.operators.interval import interval_join, time_bucket_join


def _toy(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 150, "c")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 90, "r1"), (1, 105, "r2"), (1, 199, "r3"), (2, 100, "r4"), (3, 100, "r5")],
        ["k", "ts", "rtag"],
    )
    return left, right


def test_interval_join_band(spark):
    left, right = _toy(spark)
    out = interval_join(left, right, ["k"], "ts", "ts", -50, 0)
    got = {(r["tag"], r["rtag"]) for r in out.collect()}
    # band is [l.ts - 50, l.ts): r1(90)∈[50,100) for a; r3(199)∈[150,200) for b;
    # r4(100)∈[100,150) for c; r2(105) not < 100 for a and < 150 for b? 105∈[150,200)? no
    assert got == {("a", "r1"), ("b", "r3"), ("c", "r4")}


def test_interval_join_left_keeps_unmatched(spark):
    left, right = _toy(spark)
    out = interval_join(left, right, ["k"], "ts", "ts", -5, 0, how="left")
    # only c matches nothing-in-band… check all left rows survive
    assert out.select(F.col("l.tag")).distinct().count() == 3


def test_time_bucket_join_matches_bruteforce(spark):
    left = spark.range(0, 50).select((F.col("id") * 17 % 997).alias("lts"))
    right = spark.range(0, 80).select((F.col("id") * 31 % 997).alias("rts"))
    band = 100
    fast = time_bucket_join(left, right, "lts", "rts", band)
    slow = left.crossJoin(right).filter(
        (F.col("rts") >= F.col("lts") - band) & (F.col("rts") <= F.col("lts"))
    )
    f = sorted((r["lts"], r["rts"]) for r in fast.collect())
    s = sorted((r["lts"], r["rts"]) for r in slow.collect())
    assert f == s


def test_merge_intervals_islands(spark):
    """Overlap, touch (half-open: [1,3)+[3,5) merge), containment, gap,
    multi-key isolation, and the reversed-interval guard."""
    import pytest as _pytest

    from kaer_spark.operators.interval import interval_coverage, merge_intervals

    rows = [
        ("a", 1, 3), ("a", 2, 4),   # overlap -> [1,4)
        ("a", 4, 6),                # touches -> extends to [1,6)
        ("a", 10, 12),              # gap -> second island
        ("a", 10, 11),              # contained
        ("b", 5, 7),                # other key untouched
    ]
    df = spark.createDataFrame(rows, "k string, start long, end long")
    got = {
        (r["k"], r["island_start"], r["island_end"], r["n_merged"])
        for r in merge_intervals(df, ["k"]).collect()
    }
    assert got == {("a", 1, 6, 3), ("a", 10, 12, 2), ("b", 5, 7, 1)}
    cov = {
        r["k"]: (r["covered"], r["n_islands"], r["max_gap"])
        for r in interval_coverage(df, ["k"]).collect()
    }
    assert cov == {"a": (7, 2, 4), "b": (2, 1, None)}

    bad = spark.createDataFrame([("x", 5, 5)], "k string, start long, end long")
    with _pytest.raises(Exception, match="end <= start"):
        merge_intervals(bad, ["k"]).collect()
