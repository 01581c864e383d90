"""Contamination detection: known-overlap fixtures, decontaminate inverse,
and plan shape (test side broadcast, no corpus-side shuffle before probe)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kaer_spark.operators.contamination import (
    contamination_report,
    decontaminate,
)


@pytest.fixture(scope="module")
def corpus_pair(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shares "a b c", "b c d" with test 100
            (2, "x y z w q r"),        # shares "x y z" with test 101
            (3, "c d e x y z"),        # shares "x y z" with test 101
            (4, "p q r s t u"),        # clean
            (5, ""),                   # empty doc -> no grams
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "a b c d zz"), (101, "x y z qq ww")],
        "doc_id long, text string",
    )
    return train, test


def test_report_counts_distinct_grams_once(spark, corpus_pair):
    train, test = corpus_pair
    got = {r["doc_id"]: r["hits"] for r in contamination_report(train, test, n=3).collect()}
    assert got == {1: 2, 2: 1, 3: 1}


def test_decontaminate_keeps_clean_docs(spark, corpus_pair):
    train, test = corpus_pair
    kept = sorted(r["doc_id"] for r in decontaminate(train, test, n=3).collect())
    assert kept == [4, 5]


def test_gram_repeated_in_test_counted_once(spark):
    # the same gram in two test docs must not double-count a train hit
    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "a b c"), (101, "a b c")], "doc_id long, text string"
    )
    got = contamination_report(train, test, n=3).collect()
    assert [(r["doc_id"], r["hits"]) for r in got] == [(1, 1)]


def test_probe_is_broadcast(spark, corpus_pair):
    train, test = corpus_pair
    plan = (
        contamination_report(train, test, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # shuffles touch only the small side: the test-set distinct and the
    # final (post-probe) groupBy(doc_id) — the corpus itself is never
    # hash-partitioned before the probe
    assert plan.count("Exchange hashpartitioning") <= 2


def test_overlap_fraction_bounds_and_values(spark):
    """overlap_fraction: fully-copied eval text scores 1.0, fully-novel
    scores 0.0, a half-overlapping doc lands exactly at its integer
    fraction, and gram-less docs get NULL."""
    from kaer_spark.operators.contamination import overlap_fraction

    train = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # all 2 trigrams in train
            (2, "one two three four"),               # none of 2 trigrams
            (3, "alpha beta gamma nine ten eleven"),  # 1 of 4 trigrams
            (4, "too short"),                         # no trigram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_overlapping"], r["overlap_frac"])
        for r in overlap_fraction(ev, train, n=3, unit="word").collect()
    }
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (4, 1, 0.25)
    assert got[4] == (0, 0, None)


# --- Bloom-filter decontamination ------------------------------------------


def _py_bloom(test_texts, m_bits, k_hashes, seed, n=3):
    """Python replay of bloom_build: the set of set bit positions."""
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    coeffs = minhash_coeffs(k_hashes, seed)
    bits = set()
    for t in test_texts:
        for g in _py_grams(t, n):
            fp = _py_poly(g)
            for a, b in coeffs:
                bits.add(((fp * a + b) % HASH_MOD) % m_bits)
    return bits, coeffs


def _py_grams(text, n):
    toks = text.strip().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_poly(s):
    from kaer_spark.operators.dedup import HASH_BASE, HASH_MOD

    h = 0
    for ch in s:
        h = (h * HASH_BASE + ord(ch)) % HASH_MOD
    return h


def _py_member(g, bits, coeffs, m_bits):
    from kaer_spark.operators.dedup import HASH_MOD

    fp = _py_poly(g)
    return all(((fp * a + b) % HASH_MOD) % m_bits in bits for a, b in coeffs)


def test_bloom_report_replays_exactly_with_false_positives(spark, corpus_pair):
    """Tiny m forces false positives; the report must equal the python
    replay bit for bit — the FP set is deterministic, not incidental."""
    from kaer_spark.operators.contamination import bloom_contamination_report

    train, test = corpus_pair
    m_bits, k = 127, 2  # deliberately undersized, non-multiple of 63
    bits, coeffs = _py_bloom([r["text"] for r in test.collect()], m_bits, k, 7)
    want = {}
    for r in train.collect():
        n_flag = sum(
            1 for g in _py_grams(r["text"], 3) if _py_member(g, bits, coeffs, m_bits)
        )
        if n_flag:
            want[r["doc_id"]] = n_flag
    got = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_contamination_report(
            train, test, n=3, m_bits=m_bits, k_hashes=k, seed=7
        ).collect()
    }
    assert got == want and len(want) >= 3


def test_bloom_never_misses_true_contamination(spark, corpus_pair):
    """Superset guarantee: every exact hit is bloom-flagged at ANY m, and
    per-doc the bloom count >= the exact count."""
    from kaer_spark.operators.contamination import (
        bloom_contamination_report,
        contamination_report,
    )

    train, test = corpus_pair
    exact = {
        r["doc_id"]: r["hits"]
        for r in contamination_report(train, test, n=3).collect()
    }
    for m in (127, 1 << 14):
        bloom = {
            r["doc_id"]: r["n_flagged"]
            for r in bloom_contamination_report(
                train, test, n=3, m_bits=m
            ).collect()
        }
        assert set(exact) <= set(bloom)
        assert all(bloom[d] >= h for d, h in exact.items())


def test_bloom_decontaminate_consistency(spark, corpus_pair):
    """Survivors = train minus flagged ids; subset of exact survivors; at
    a well-sized m (no FPs on this fixture) exactly the exact survivors."""
    from kaer_spark.operators.contamination import (
        bloom_contamination_report,
        bloom_decontaminate,
        decontaminate,
    )

    train, test = corpus_pair
    flagged = {
        r["doc_id"]
        for r in bloom_contamination_report(
            train, test, n=3, m_bits=1 << 14
        ).collect()
    }
    surv = {
        r["doc_id"]
        for r in bloom_decontaminate(train, test, n=3, m_bits=1 << 14).collect()
    }
    all_ids = {r["doc_id"] for r in train.collect()}
    assert surv == all_ids - flagged
    exact_surv = {r["doc_id"] for r in decontaminate(train, test, n=3).collect()}
    assert surv <= exact_surv
    assert surv == exact_surv  # m=16k over ~6 grams: FP-free by margin


def test_bloom_empty_test_set_flags_nothing(spark, corpus_pair):
    from kaer_spark.operators.contamination import (
        bloom_build,
        bloom_decontaminate,
    )

    train, test = corpus_pair
    empty = test.filter(F.lit(False))
    row = bloom_build(empty, n=3, m_bits=1 << 10).collect()[0]
    assert row["n_set_bits"] == 0 and all(w == 0 for w in row["words"])
    assert bloom_decontaminate(train, empty, n=3).count() == train.count()


def test_bloom_probe_never_shuffles_the_corpus(spark, corpus_pair):
    """100 TB contract: the train side of bloom_decontaminate is pure
    scan+filter — the ONLY hash exchange in the whole plan is the bitset
    build's word-index groupBy (bounded by m/63 rows), and the bitset
    arrives by broadcast."""
    from kaer_spark.operators.contamination import bloom_decontaminate

    train, test = corpus_pair
    plan = (
        bloom_decontaminate(train, test, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
