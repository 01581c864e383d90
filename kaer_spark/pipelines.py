"""Composed LLM-training-data pipeline: language-ID → quality filter →
exact dedup → token accounting, as one declarative DataFrame program.

This is the end-to-end story the individual operators exist for: at 100 TB
the pipeline is a single Catalyst plan — the per-row enrichments (lang,
quality, tokens, fingerprint) pipeline inside the parquet scan stage
(``ensure_parallelism`` first inserts a round-robin widening exchange
when the plan shows the input may be narrower than the cores: a
few-split scan, or the shuffle-rooted output of the boilerplate-line
stage; it executes nothing to decide and leaves a many-split production
scan alone), the quality/language filter drops rows *before* the
fingerprint hash shuffle for dedup, and the representative-per-duplicate-
group choice is deterministic (min id), so reruns and the DuckDB oracle
agree exactly.

Aggregate stats stick to order-independent reductions (count, int64 sum,
min/max) so distributed partial aggregation cannot change the values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaer_spark.functions.text import (
    bpe_token_count,
    doc_fingerprint,
    quality_score,
    with_lang_guess,
)


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    min_tokens: int = 0,
    langs: list[str] | None = None,
    remove_boilerplate_lines: bool = False,
    boilerplate_min_docs: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """Filter + dedup a raw document table into a training corpus.

    Returns one row per kept document: (id, text, lang_guess, quality,
    n_tokens, fp). Stage order is chosen for scan-stage pipelining: all
    enrichments are narrow projections, the filters cut the corpus before
    the fingerprint shuffle, and exact dedup keeps the min-id row per
    fingerprint (deterministic representative).

    ``remove_boilerplate_lines=True`` prepends the CCNet-style line-level
    dedup (:func:`kaer_spark.operators.dedup.remove_duplicate_lines`,
    tuned by ``boilerplate_min_docs``/``line_sep``): lines appearing in
    that many distinct documents are stripped BEFORE quality scoring,
    token counting, and fingerprinting — so a doc that is unique apart
    from an injected cookie banner deduplicates against its clean twin,
    and token budgets don't count boilerplate. The whole flow stays one
    Catalyst program; the line stage adds its O(total lines) shuffles in
    front of the unchanged filter/dedup shape.
    """
    if remove_boilerplate_lines:
        from kaer_spark.operators.dedup import remove_duplicate_lines

        cleaned = remove_duplicate_lines(
            docs,
            id_col=id_col,
            text_col=text_col,
            min_docs=boilerplate_min_docs,
            sep=line_sep,
        )
        docs = cleaned.select(
            F.col(id_col), F.col("text_clean").alias(text_col)
        )
    from kaer_spark.operators.util import ensure_parallelism

    # Widen before the enrichment projections (r17 item 13):
    # quality/token/fingerprint/lang are expression-heavy and otherwise
    # run in ONE task on a small input (profiled 2.7s serialized;
    # interleaved A/B ~0.8×).
    enriched = with_lang_guess(
        ensure_parallelism(docs).select(
            F.col(id_col),
            F.col(text_col),
            quality_score(text_col).alias("quality"),
            bpe_token_count(text_col).alias("n_tokens"),
            doc_fingerprint(text_col).alias("fp"),
        ),
        text_col=text_col,
    )
    pred = (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    if langs:
        pred = pred & F.col("lang_guess").isin(list(langs))
    kept = enriched.filter(pred)
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def corpus_stats(corpus: DataFrame) -> DataFrame:
    """Per-detected-language corpus accounting (all order-independent
    aggregates: exact at any parallelism)."""
    return corpus.groupBy("lang_guess").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def numeric_profile(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    approximate: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """One-pass column profile: count / nulls / min / max / percentiles
    (p25/p50/p90) / decimal-accumulated mean — the table-health snapshot a
    pipeline runs before and after each transformation stage.

    Exact ``percentile`` (the default) holds every group's values for an
    in-aggregate sort — oracle-checkable bit-for-bit (DuckDB
    ``quantile_cont`` shares the linear-interpolation definition), but
    memory grows with group size. ``approximate=True`` is the petabyte
    path: ``percentile_approx`` (Greenwald-Khanna sketch) keeps a bounded
    ``O(accuracy)`` summary per group, rank error ≤ 1/``accuracy``, one
    pass, no sort — same output schema, so the two modes are drop-in
    interchangeable (sketch-vs-exact agreement is bounded in tests).
    """
    if approximate:
        pcts = [
            F.percentile_approx(col, p, accuracy).cast("double").alias(name)
            for p, name in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
        ]
    else:
        pcts = [
            F.expr(f"percentile({col}, {p})").alias(name)
            for p, name in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
        ]
    aggs = [
        F.count("*").alias("n_rows"),
        F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
        *pcts,
        (
            F.sum(F.col(col).cast("decimal(28,2)")).cast("double") / F.count("*")
        ).alias("mean_val"),
    ]
    if group_col:
        return df.groupBy(group_col).agg(*aggs)
    return df.agg(*aggs)


def stratified_split(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weights: dict[str, int] | None = None,
    sub_strata: int = 1,
) -> DataFrame:
    """Deterministic stratified train/val/test assignment: within each
    stratum, rows are ranked and dealt round-robin into buckets sized by
    integer ``weights`` (default 8/1/1). Id-ranked dealing — not random()
    — so the split is reproducible across runs/engines/retries and EXACT
    per stratum (a hash-mod split only approximates fractions).

    ``sub_strata=1`` ranks each stratum in ONE window partition — a
    mega-stratum serializes on a single reducer at 100 TB. ``sub_strata=S``
    is the scale path: each stratum is sharded into S deterministic
    sub-partitions (``id mod S`` — numeric ids; replayable by any SQL
    oracle), ranked in parallel, and the per-sub ranks are re-based by the
    cumulative counts of earlier subs (a tiny strata×S aggregate, broadcast
    back). The composed rank is a permutation of 1..N within the stratum,
    so every split's PER-STRATUM COUNT is identical to the single-window
    deal — exactness survives; only which id lands in which bucket differs
    (it's rank-within-sub order rather than global id order — equally
    deterministic).

    Returns the input plus a ``split`` column. For a new-data-append
    workflow, re-running reassigns only via rank, so keep splits frozen by
    materializing the assignment once (the usual practice).
    """
    weights = weights or {"train": 8, "val": 1, "test": 1}
    total = sum(weights.values())
    if sub_strata <= 1:
        w = Window.partitionBy(strata_col).orderBy(id_col)
        slot = (F.row_number().over(w) - 1) % total
        return df.withColumn("split", _deal(slot, weights))
    sub = F.pmod(F.col(id_col).cast("long"), F.lit(int(sub_strata)))
    sharded = df.withColumn("__sub", sub)
    w = Window.partitionBy(strata_col, "__sub").orderBy(id_col)
    ranked = sharded.withColumn("__subrank", F.row_number().over(w))
    counts = sharded.groupBy(strata_col, "__sub").agg(F.count("*").alias("__cnt"))
    wofs = (
        Window.partitionBy(strata_col)
        .orderBy("__sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__ofs", F.coalesce(F.sum("__cnt").over(wofs), F.lit(0))
    ).drop("__cnt")
    slot = (F.col("__ofs") + F.col("__subrank") - 1) % total
    return (
        ranked.join(F.broadcast(offsets), [strata_col, "__sub"])
        .withColumn("split", _deal(slot, weights))
        .drop("__sub", "__subrank", "__ofs")
    )


def histogram(
    df: DataFrame,
    col: str,
    bins: int,
    lo: int,
    hi: int,
) -> DataFrame:
    """Fixed-range integer histogram: ``(bin, n)`` with
    ``bin = clamp((x - lo) * bins DIV (hi - lo), 0, bins-1)``.

    All-integer bucketing (no float division → no boundary wobble between
    engines); out-of-range values clamp into the edge bins so the counts
    always sum to the row count. One map-side-combined aggregate — the
    scan-shaped way to profile a 100 TB column.
    """
    if hi <= lo or bins <= 0:
        raise ValueError("need hi > lo and bins > 0")
    raw = F.expr(f"(({col} - {int(lo)}) * {int(bins)}) DIV {int(hi - lo)}")
    bin_ = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("long")
    return df.groupBy(bin_.alias("bin")).agg(F.count("*").alias("n"))


def top_quality_fraction(
    df: DataFrame,
    keep_permille: int,
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep each group's best ``keep_permille``‰ documents by quality score
    (functions.text.quality_score), ties broken by id — the percentile
    quality cut every corpus pipeline applies per language/domain.

    Exact integer cut: kept = rank ≤ (n·keep) DIV 1000 per group, so the
    kept count is deterministic (a percent_rank threshold would wobble on
    ties). One window shuffle on the group key.
    """
    from kaer_spark.operators.util import ensure_parallelism

    q = quality_score(text_col)
    w = Window.partitionBy(by).orderBy(F.col("__q").desc(), F.col(id_col).asc())
    wn = Window.partitionBy(by)
    # widen a single-split scan before the quality projection (r17 item
    # 13; measured 0.76 → 0.68s interleaved mins at bench scale, no-op on
    # many-split scans) — the window shuffle on `by` follows either way.
    return (
        ensure_parallelism(df).withColumn("__q", q)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wn))
        .filter(
            F.col("__rn")
            <= F.expr(f"(__n * {int(keep_permille)}) DIV 1000")
        )
        .drop("__rn", "__n")
        .withColumnRenamed("__q", "quality")
    )


def training_mix_pipeline(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int,
    keep_permille: int,
    max_tokens: int,
    shards: int,
    source_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The composed corpus-construction pipeline, end to end in ONE
    Catalyst plan: source-reweighted mix (scan filter) → per-language
    quality percentile cut (one window) → exact dedup keeping min-id
    representatives (one window) → sequence packing (sharded cumsum) →
    per-pack fill stats. Every stage is the deterministic operator already
    verified on its own; composing them adds no Python, no extra scan, and
    only the windows' shuffles — the plan a 100 TB corpus build would run
    nightly.
    """
    from kaer_spark.operators.packing import pack_sequences, pack_stats
    from kaer_spark.operators.sampling import weighted_mix

    mixed = weighted_mix(
        docs, source_col, rates_permille, id_col, default_permille
    )
    kept = top_quality_fraction(mixed, keep_permille, lang_col, id_col, text_col)
    wdup = Window.partitionBy(text_col).orderBy(id_col)
    unique = (
        kept.withColumn("__dup_rn", F.row_number().over(wdup))
        .filter(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )
    return pack_stats(
        pack_sequences(unique, max_tokens, id_col, text_col, shards)
    )


def token_budget_pipeline(
    docs: DataFrame,
    tau: float,
    budgets: dict[str, int],
    default_budget: int,
    max_tokens: int,
    shards: int,
    source_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The multilingual token-accounted corpus build, end to end:
    temperature-flattened language mix (:func:`operators.sampling.
    temperature_rates` → ``weighted_mix``) → per-source TOKEN budgets
    (``token_budget_mix``) → sequence packing → per-pack fill stats.

    This is the mix recipe stated the way pretraining actually states it —
    "flatten languages at τ, then N tokens per source, packed to
    ``max_tokens``" — as one program. Token accounting is the engine-wide
    whitespace ``token_count`` THROUGHOUT (budgets and packing count the
    same tokens, so a budget of B yields ≈ B/max_tokens packs per source).

    Scale shape: ``temperature_rates`` is the single non-fused step — one
    map-side-combined count collecting ONE row per language — and its
    output folds into the plan as a literal CASE predicate; everything
    after is one Catalyst plan: scan-stage rate filter → the budget's
    sharded-cumsum windows → the packing cumsum re-using the SAME shard
    key domain. No data-sized collect anywhere.
    """
    from kaer_spark.functions.text import token_count
    from kaer_spark.operators.packing import pack_sequences, pack_stats
    from kaer_spark.operators.sampling import (
        temperature_rates,
        token_budget_mix,
        weighted_mix,
    )

    rates = temperature_rates(docs, lang_col, tau)
    toked = docs.withColumn("__ntok", token_count(text_col))
    mixed = weighted_mix(toked, lang_col, rates, id_col)
    budgeted = token_budget_mix(
        mixed, source_col, budgets, "__ntok", id_col, default_budget, shards
    )
    return pack_stats(
        pack_sequences(
            budgeted, max_tokens, id_col, text_col, shards,
            tokens_col=F.col("__ntok"),
        )
    )


def _deal(slot: Column, weights: dict[str, int]) -> Column:
    """slot (0..total-1) → split name by contiguous weight ranges."""
    expr = F.when(F.lit(False), F.lit(""))
    lo = 0
    for name, n in weights.items():
        expr = expr.when((slot >= lo) & (slot < lo + n), F.lit(name))
        lo += n
    return expr


def corpus_datasheet(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-``group_col`` corpus datasheet — the one-stop audit a
    "datasheet for datasets" review asks per source before mixing:
    ``(group, n_docs, total_tokens, total_chars, mean_quality, n_langs,
    n_unique, dup_rate)`` where ``n_unique`` counts distinct exact
    fingerprints and ``dup_rate`` = (docs − unique)/docs.

    Every number is an exact aggregate: the mean accumulates in DECIMAL,
    and both distinct counts (languages, fingerprints) are computed as
    two-level pre-aggregates — never a countDistinct mixed into plain
    aggs, which plans a row-doubling Expand (the duplicate_passages
    lesson, SURVEY §6 r9). Three branch aggregates join back on the
    (tiny) group key.
    """
    enriched = with_lang_guess(
        docs.select(
            F.col(group_col).alias("grp"),
            F.col(id_col),
            F.col(text_col),
            quality_score(text_col).alias("q"),
            bpe_token_count(text_col).alias("ntok"),
            F.length(text_col).cast("long").alias("nchars"),
            doc_fingerprint(text_col).alias("fp"),
        ),
        text_col=text_col,
    )
    main = enriched.groupBy("grp").agg(
        F.count("*").alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.sum("nchars").alias("total_chars"),
        (
            F.sum(F.col("q").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("mean_quality"),
    )
    langs = (
        enriched.select("grp", "lang_guess")
        .distinct()
        .groupBy("grp")
        .agg(F.count("*").alias("n_langs"))
    )
    uniq = (
        enriched.groupBy("grp", "fp")
        .agg(F.count("*").alias("__c"))
        .groupBy("grp")
        .agg(F.count("*").alias("n_unique"))
    )
    return (
        main.join(langs, "grp")
        .join(uniq, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_tokens",
            "total_chars",
            "mean_quality",
            "n_langs",
            "n_unique",
            (
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs")
            ).alias("dup_rate"),
        )
    )
