"""Benchmark-contamination detection: which training documents contain
word n-grams that also occur in an evaluation/test set.

This is the standard decontamination primitive for LLM training corpora
(exact n-gram collision, as used by GPT-3/PaLM data pipelines: a training
doc is contaminated if it shares any length-``n`` word n-gram with a
benchmark document). The reference engine has no such operator; it belongs
to the training-data-pipeline surface this repo adds as first-class.

Design for 100 TB:

* The *test* side is a benchmark suite — thousands of documents, MBs — so
  its distinct gram set is **broadcast**; the multi-TB train side is never
  shuffled for the probe: the gram explode + broadcast-hash semi-probe
  pipeline inside the train scan stage.
* The only shuffle is the final ``groupBy(train id)`` over *matching*
  grams, which the broadcast join has already cut to a tiny fraction of
  the corpus.
* Per-doc gram arrays are distinct (``word_shingles(distinct=True)``), so
  hit counts need no ``count(distinct)`` — a plain map-side-combinable
  ``count(*)``.

Pure Catalyst end to end: no Python UDF, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kaer_spark.functions.text import char_shingles, word_shingles


def _grams(text_col: str, n: int, unit: str) -> Column:
    if unit == "word":
        return word_shingles(text_col, n=n, distinct=True)
    if unit == "char":
        return char_shingles(text_col, n=n, distinct=True)
    raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    unit: str = "word",
) -> DataFrame:
    """Per contaminated train doc: (``doc_id``, ``hits``) where ``hits`` is
    the number of *distinct* train-doc grams that occur anywhere in the
    test set. Docs with zero hits are absent (anti-join them to get the
    clean corpus)."""
    tr = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_grams(text_col, n, unit)).alias("g"),
    )
    te = test.select(F.explode(_grams(text_col, n, unit)).alias("g")).distinct()
    return (
        tr.join(F.broadcast(te), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    unit: str = "word",
) -> DataFrame:
    """Train corpus with contaminated documents removed — a broadcast
    LEFT ANTI join against the contaminated-id set, so the clean pass over
    the corpus stays scan-shaped."""
    bad = contamination_report(train, test, text_col, id_col, n, unit).select("doc_id")
    return train.join(
        F.broadcast(bad), train[id_col] == bad["doc_id"], "left_anti"
    )


def overlap_fraction(
    eval_df: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    unit: str = "word",
) -> DataFrame:
    """Per EVAL document: what fraction of its distinct n-grams also occur
    anywhere in the training corpus →
    ``(doc_id, n_grams, n_overlapping, overlap_frac)``.

    The memorization-risk number eval cards report (complement of
    novelty): ``contamination_report`` answers "which TRAIN docs touch the
    benchmark"; this answers "how much of each EVAL item is reproducible
    from training text" — 1.0 means every n-gram of the item appears in
    training data, 0.0 means fully novel. Docs too short to have a single
    n-gram are emitted with ``n_grams = 0`` and NULL fraction.

    Scale shape — the sides flip relative to decontamination: the
    multi-TB side here is the TRAIN gram set, far too big to broadcast,
    so the probe is a gram-keyed LEFT SEMI join (eval grams, a bounded
    benchmark, shuffle as the small side; the train grams arrive at the
    join pre-deduplicated by a keyed ``distinct`` whose exchange is the
    one full-corpus shuffle). The fraction is exact integer counting:
    distinct grams per doc over distinct matched grams.
    """
    from kaer_spark.operators.util import ensure_parallelism

    ev = eval_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_grams(text_col, n, unit)).alias("g"),
    )
    # the train-side explode is the heavy stage; on a fixture-scale
    # single-file scan it would otherwise run in ONE task (measured
    # 12.7s -> ~2s at sf0.1) — a no-op on real partitioned inputs
    tg = (
        ensure_parallelism(train)
        .select(F.explode(_grams(text_col, n, unit)).alias("g"))
        .distinct()
    )
    totals = ev.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        ev.join(tg, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlapping"))
    )
    return (
        eval_df.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_overlapping", F.lit(0)).alias("n_overlapping"),
            (
                F.coalesce("n_overlapping", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("overlap_frac"),
        )
    )


# --- Bloom-filter decontamination -----------------------------------------
#
# The broadcast in ``decontaminate`` above carries the test set's DISTINCT
# gram STRINGS — fine for one benchmark, but a decontamination service
# screening against hundreds of eval suites ships gigabytes of strings to
# every executor. The Bloom variant compresses the whole eval gram set into
# an m-bit bitset (packed 63 bits per int64 word so the oracle can replay
# the arithmetic without touching the sign bit): the broadcast is O(m/8)
# bytes REGARDLESS of eval-suite size, and the corpus-side probe is pure
# bit arithmetic fused into the parquet scan — no join, no shuffle, no UDF.
# False positives are a quantifiable (1-e^{-kn/m})^k over-flagging rate —
# the safe direction for decontamination (never misses real contamination)
# — and because every hash is deterministic integer arithmetic the EXACT
# false-positive set is replayed by the DuckDB oracle.

_BITS_PER_WORD = 63


def _bit_positions(fp: Column, coeffs: list[tuple[int, int]], m_bits: int) -> list[Column]:
    """The k Bloom positions of an int64 fingerprint: universal-hash family
    ``((fp·a_j + b_j) mod P) mod m`` with the same LCG-derived (a_j, b_j)
    constants the MinHash family uses (dedup.minhash_coeffs), so the oracle
    embeds identical integers. fp < P ≈ 2^30 and a_j < P keep the product
    inside int64."""
    from kaer_spark.operators.dedup import HASH_MOD

    return [
        ((fp * F.lit(a) + F.lit(b)) % F.lit(HASH_MOD)) % F.lit(m_bits)
        for a, b in coeffs
    ]


def bloom_build(
    test: DataFrame,
    text_col: str = "text",
    n: int = 13,
    unit: str = "word",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 1337,
) -> DataFrame:
    """ONE-ROW DataFrame ``(m_bits, k_hashes, seed, n_set_bits, words)``:
    the Bloom bitset of every distinct test-set n-gram, packed 63 bits per
    word in ``words: array<long>``.

    Build shape: gram explode → polynomial fingerprint → k positions →
    ``groupBy(word index)`` with a ``bit_or`` of single-bit words (bit_or is
    idempotent, so no distinct pass is needed anywhere) → one map-assembly
    aggregate that scatters the set words into the dense array. The only
    shuffle is keyed on the word index (≤ m/63 rows). The result is meant
    to be ``F.broadcast``-crossJoined into a corpus scan by the probes
    below, or persisted and reused across corpus refreshes."""
    from kaer_spark.operators.dedup import _poly_hash, minhash_coeffs

    if m_bits < _BITS_PER_WORD:
        raise ValueError("m_bits must be >= 63")
    coeffs = minhash_coeffs(k_hashes, seed)
    n_words = (m_bits + _BITS_PER_WORD - 1) // _BITS_PER_WORD
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(_BITS_PER_WORD)])
    fp = _poly_hash(F.col("g"))
    pos = test.select(
        F.explode(_grams(text_col, n, unit)).alias("g")
    ).select(F.explode(F.array(*_bit_positions(fp, coeffs, m_bits))).alias("pos"))
    words = pos.select(
        F.floor(F.col("pos") / _BITS_PER_WORD).cast("int").alias("w"),
        (F.col("pos") % _BITS_PER_WORD).cast("int").alias("bit"),
    ).groupBy("w").agg(
        F.bit_or(F.element_at(pow2, F.col("bit") + 1)).alias("word")
    )
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("word")))
        ).alias("wm")
    ).select(
        F.lit(m_bits).cast("long").alias("m_bits"),
        F.lit(k_hashes).cast("int").alias("k_hashes"),
        F.lit(seed).cast("long").alias("seed"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("wm"), i), F.lit(0).cast("long")
            ),
        ).alias("words"),
    ).withColumn(
        "n_set_bits",
        F.aggregate(
            "words",
            F.lit(0).cast("long"),
            lambda acc, wd: acc + F.bit_count(wd),
        ),
    )


def _bloom_member(
    fp: Column, words: Column, coeffs: list[tuple[int, int]], m_bits: int
) -> Column:
    """True iff all k Bloom bits of ``fp`` are set in ``words`` — a pure
    Catalyst expression (element_at + bitwiseAND against a pow2 literal),
    so the probe fuses into whole-stage codegen inside the corpus scan."""
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(_BITS_PER_WORD)])
    cond = F.lit(True)
    for pos in _bit_positions(fp, coeffs, m_bits):
        word = F.element_at(
            words, F.floor(pos / _BITS_PER_WORD).cast("int") + 1
        )
        bit = F.element_at(pow2, (pos % _BITS_PER_WORD).cast("int") + 1)
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def bloom_contamination_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    unit: str = "word",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 1337,
) -> DataFrame:
    """Bloom twin of :func:`contamination_report`: (``doc_id``,
    ``n_flagged``) where ``n_flagged`` counts the train doc's distinct
    grams whose k Bloom bits are all set — contamination hits plus the
    deterministic false-positive overhang (superset of the exact report's
    doc set; never misses a true hit). The corpus side is scan-shaped: one
    broadcast crossJoin of the ONE-ROW bitset, membership evaluated inline
    per gram, then a hit-only groupBy."""
    from kaer_spark.operators.dedup import _poly_hash, minhash_coeffs
    from kaer_spark.operators.util import ensure_parallelism

    coeffs = minhash_coeffs(k_hashes, seed)
    bloom = bloom_build(test, text_col, n, unit, m_bits, k_hashes, seed)
    probed = (
        ensure_parallelism(train)
        .select(
            F.col(id_col).alias("doc_id"),
            _grams(text_col, n, unit).alias("grams"),
        )
        .crossJoin(F.broadcast(bloom))
    )
    fps = F.transform("grams", lambda g: _poly_hash(g))
    n_flagged = F.size(
        F.filter(fps, lambda fp: _bloom_member(fp, F.col("words"), coeffs, m_bits))
    ).cast("long")
    return probed.select(
        "doc_id", n_flagged.alias("n_flagged")
    ).filter(F.col("n_flagged") > 0)


def bloom_decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    unit: str = "word",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 1337,
) -> DataFrame:
    """Train corpus minus every doc with a Bloom-positive gram — the
    constant-size-broadcast twin of :func:`decontaminate`. Strictly a
    SUBSET of the exact survivors (false positives only ever remove more),
    and — unlike the exact path — a single scan-shaped filter with NO join
    back: the NOT-EXISTS membership test runs inside the train scan."""
    from kaer_spark.operators.dedup import _poly_hash, minhash_coeffs

    coeffs = minhash_coeffs(k_hashes, seed)
    bloom = bloom_build(test, text_col, n, unit, m_bits, k_hashes, seed)
    probed = train.crossJoin(F.broadcast(bloom))
    fps = F.transform(_grams(text_col, n, unit), lambda g: _poly_hash(g))
    clean = ~F.exists(
        fps, lambda fp: _bloom_member(fp, F.col("words"), coeffs, m_bits)
    )
    return probed.filter(clean).select(*train.columns)
