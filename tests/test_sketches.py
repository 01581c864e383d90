"""HyperLogLog: python bit-for-bit replay, both estimator branches,
multiset invariance, accuracy envelope, and the no-distinct-shuffle plan
contract."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from kaer_spark.operators.sketches import (
    HLL_Q,
    hll_alpha,
    hll_distinct,
    hll_distinct_by,
    hll_distinct_tokens,
)


def _py_mix(a, b):
    from kaer_spark.operators.dedup import HASH_MOD, HASH_MOD2
    from kaer_spark.operators.sketches import _MIX

    u = (a * _MIX[0][0] + b) % HASH_MOD
    for (mul, add), mod in zip(
        _MIX[1:], [HASH_MOD2, HASH_MOD, HASH_MOD2, HASH_MOD]
    ):
        u = (u * mul + add) % mod
    return u


def _py_hll(values, p=12):
    from kaer_spark.operators.dedup import (
        HASH_BASE,
        HASH_BASE2,
        HASH_MOD,
        HASH_MOD2,
    )

    m = 1 << p
    regs = {}
    for v in values:
        h1 = h2 = 0
        for ch in v:
            h1 = (h1 * HASH_BASE + ord(ch)) % HASH_MOD
            h2 = (h2 * HASH_BASE2 + ord(ch)) % HASH_MOD2
        idx = _py_mix(h1, h2) % m
        r = _py_mix(h2, h1)
        rho = (
            HLL_Q + 1
            if r == 0
            else min((r & -r).bit_length(), HLL_Q + 1)
        )
        regs[idx] = max(regs.get(idx, 0), rho)
    used = len(regs)
    zp = sum(1 << (HLL_Q + 1 - mj) for mj in regs.values())
    z_num = zp + (m - used) * (1 << (HLL_Q + 1))
    c1 = hll_alpha(m) * float(m) * float(m) * float(1 << (HLL_Q + 1))
    raw = c1 / float(z_num)
    if raw <= 2.5 * m and used < m:
        est = float(m) * math.log(float(m) / float(m - used))
    else:
        est = raw
    return {
        "m": m,
        "used_registers": used,
        "zero_registers": m - used,
        "z_num": z_num,
        "estimate": est,
    }


def test_hll_replays_python_bit_for_bit(spark):
    vals = [f"token-{i}" for i in range(500)] + ["token-0", "token-7"] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = hll_distinct(df, "v", p=12).collect()[0].asDict()
    assert got == _py_hll(vals)


def test_hll_is_multiset_invariant(spark):
    base = [f"u{i}" for i in range(300)]
    a = spark.createDataFrame([(v,) for v in base], "v string")
    b = spark.createDataFrame([(v,) for v in base * 7], "v string")
    assert (
        hll_distinct(a, "v").collect()[0].asDict()
        == hll_distinct(b, "v").collect()[0].asDict()
    )


def test_hll_accuracy_both_branches(spark):
    # linear-counting branch: few distincts, near-exact
    small = spark.range(200).select(
        F.concat(F.lit("s"), F.col("id")).alias("v")
    )
    r = hll_distinct(small, "v", p=12).collect()[0]
    assert r["zero_registers"] > 0
    assert abs(r["estimate"] - 200) / 200 < 0.05
    # raw harmonic branch: 30k distincts >> 2.5m
    big = spark.range(30_000).select(
        F.concat(F.lit("value-"), F.col("id")).alias("v")
    )
    r = hll_distinct(big, "v", p=12).collect()[0]
    assert abs(r["estimate"] - 30_000) / 30_000 < 0.05


def test_hll_empty_input_estimates_zero(spark):
    df = spark.createDataFrame([], "v string")
    r = hll_distinct(df, "v").collect()[0]
    assert r["used_registers"] == 0 and r["estimate"] == 0.0


def test_hll_tokens_vs_exact(spark, documents):
    from kaer_spark.functions.text import tokens

    r = hll_distinct_tokens(documents).collect()[0]
    true = (
        documents.select(F.explode(tokens(F.col("text"))).alias("v"))
        .distinct()
        .count()
    )
    assert abs(r["estimate"] - true) / max(true, 1) < 0.1


def test_hll_never_shuffles_values_by_key(spark):
    """100 TB contract: no distinct, no value-keyed exchange — the ONLY
    hash exchange is the register groupBy (≤ 2^p keys, map-side
    combined)."""
    big = spark.range(1000).select(F.col("id").cast("string").alias("v"))
    plan = (
        hll_distinct(big, "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "idx" in plan.split("Exchange hashpartitioning")[1][:80]


def test_hll_by_group_matches_per_group_global(spark):
    """Grouped HLL row ≡ running the global operator on each group's
    slice (same registers, same estimate), and groups are independent."""
    rows = [("a", f"x{i}") for i in range(300)] + [
        ("b", f"y{i}") for i in range(40)
    ] + [("b", "y0")] * 5
    df = spark.createDataFrame(rows, "g string, v string")
    by = {
        r["g"]: (r["used_registers"], r["z_num"], r["estimate"])
        for r in hll_distinct_by(df, ["g"], "v").collect()
    }
    for g in ("a", "b"):
        glob = hll_distinct(df.filter(F.col("g") == g), "v").collect()[0]
        assert by[g] == (
            glob["used_registers"], glob["z_num"], glob["estimate"]
        )
    assert abs(by["a"][2] - 300) / 300 < 0.08
    assert abs(by["b"][2] - 40) / 40 < 0.08


def test_hll_merge_equals_union(spark):
    """The mergeability contract: estimate(merge(regs(A), regs(B))) is
    BIT-identical to estimate(regs(A ∪ B)) — including overlapping
    values — and hll_distinct ≡ estimate∘registers."""
    from kaer_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    a = spark.range(400).select(
        F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    b = spark.range(200, 700).select(  # overlaps a on 200..399
        F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    merged = hll_estimate(
        hll_merge(hll_registers(a, "v"), hll_registers(b, "v"))
    ).collect()[0]
    whole = hll_estimate(hll_registers(a.unionByName(b), "v")).collect()[0]
    assert merged.asDict() == whole.asDict()
    direct = hll_distinct(a.unionByName(b), "v").collect()[0]
    assert merged.asDict() == direct.asDict()
    assert abs(merged["estimate"] - 700) / 700 < 0.08


# --- Count-Min Sketch --------------------------------------------------------


def test_cms_upper_bound_and_exactness(spark):
    """Estimates are exact-or-over, never under; at a roomy width they
    are exactly the true counts."""
    from kaer_spark.operators.sketches import cms_build, cms_query

    rows = (
        [("apple",)] * 50 + [("banana",)] * 7 + [("cherry",)] * 1
        + [(f"noise{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "v string")
    cms = cms_build(df, "v", width=1 << 12, depth=4)
    got = {
        r["v"]: r["estimate"]
        for r in cms_query(
            spark, cms, ["apple", "banana", "cherry", "absent"],
            width=1 << 12, depth=4,
        ).collect()
    }
    true = {"apple": 50, "banana": 7, "cherry": 1, "absent": 0}
    for v, t in true.items():
        assert got[v] >= t
    assert got == true  # width 4096 >> 203 distinct: collision-free

    # tight width forces collisions: still never under
    tight = cms_build(df, "v", width=16, depth=2)
    gt = {
        r["v"]: r["estimate"]
        for r in cms_query(spark, tight, ["apple", "banana"], width=16, depth=2).collect()
    }
    assert gt["apple"] >= 50 and gt["banana"] >= 7


def test_cms_no_value_keyed_shuffle(spark):
    from kaer_spark.operators.sketches import cms_build

    big = spark.range(2000).select(F.col("id").cast("string").alias("v"))
    plan = cms_build(big, "v")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_cms_geometry_guards(spark):
    """Probing with mismatched (width, depth, seed) raises instead of
    returning plausible-looking wrong counts (advice r11)."""
    import pytest

    from kaer_spark.operators.sketches import cms_build, cms_query

    df = spark.createDataFrame([("apple",), ("apple",), ("pear",)], "v string")
    cms = cms_build(df, "v", width=1 << 10, depth=3, seed=11)
    ok = {
        r["v"]: r["estimate"]
        for r in cms_query(
            spark, cms, ["apple"], width=1 << 10, depth=3, seed=11
        ).collect()
    }
    assert ok["apple"] >= 2
    with pytest.raises(Exception, match="cms geometry mismatch"):
        cms_query(spark, cms, ["apple"], width=1 << 11, depth=3, seed=11).collect()


def test_cms_query_zero_match_mismatch_still_raises(spark):
    """The r12 escape: a mismatched-geometry probe whose (j, pos) positions
    match NO sketch rows must still raise — not return estimate 0 (an
    under-estimate). Simulated by pruning every cell the probe could hit."""
    from kaer_spark.operators.sketches import cms_build, cms_query

    df = spark.createDataFrame([("apple",), ("apple",), ("pear",)], "v string")
    cms = cms_build(df, "v", width=1 << 10, depth=3, seed=11)
    # probe width 16 → all probe positions < 16; keep only cells at pos >= 16
    pruned = cms.filter(F.col("pos") >= 16)
    with pytest.raises(Exception, match="cms geometry mismatch"):
        cms_query(spark, pruned, ["apple"], width=16, depth=3, seed=11).collect()
    # matching geometry + never-inserted value stays a legitimate 0-or-over
    est = {
        r["v"]: r["estimate"]
        for r in cms_query(
            spark, cms, ["zzz-never-inserted"], width=1 << 10, depth=3, seed=11
        ).collect()
    }
    assert est["zzz-never-inserted"] >= 0


def test_cms_query_empty_sketch_returns_zero(spark):
    """A zero-row sketch (cms_sketch over an empty DataFrame) is the
    legitimate empty-multiset state: estimates are 0 (exact — nothing was
    counted), NOT a 'geometry mismatch' error (the r12 guard's count>0
    clause misread empty as mismatched — r13 advice). Non-empty sketches
    keep the strict geometry raise."""
    from kaer_spark.operators.sketches import cms_build, cms_query

    empty = spark.createDataFrame([], "v string")
    cms = cms_build(empty, "v", width=1 << 10, depth=3, seed=11)
    est = {
        r["v"]: r["estimate"]
        for r in cms_query(
            spark, cms, ["apple", "pear"], width=1 << 10, depth=3, seed=11
        ).collect()
    }
    assert est == {"apple": 0, "pear": 0}
