"""Deterministic sampling operators for training-corpus construction.

A 100 TB corpus pipeline samples constantly — rate-downsampling a source,
capping any one domain's share, carving held-out slices — and at scale the
sample must be (a) a narrow scan-stage filter, not a shuffle, and (b)
DETERMINISTIC: re-running the job, retrying a failed stage, or replaying
on another engine must select the identical rows. ``rand()`` fails (b)
(Spark re-evaluates it per task retry); these operators use pure integer
arithmetic on the row id instead, the same reproducibility discipline as
``pipelines.stratified_split`` and the MinHash family.

* ``hash_sample`` — keep a ~rate fraction by LCG-hash threshold on the id.
  Zero shuffle: a scan-stage filter that composes with predicate pushdown.
* ``quota_per_group`` — cap each group's row count at ``quota``, keeping
  the ``quota`` smallest ids (deterministic representatives). One window
  shuffle on the group key; for mega-groups at 100 TB note that only the
  kept ``quota`` rows survive the stage, so skew cost is bounded by the
  scan, and a two-level pre-cap (cap each sub-shard at ``quota`` first,
  exactly like ``knn_join``'s pre-top-k) keeps the exchange bounded too —
  enable with ``sub_shards``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# same modulus family as operators.dedup (oracle-replayable int64 math)
SAMPLE_MOD = 1_000_000_007
SAMPLE_A = 2_654_435_761  # Knuth multiplicative constant
SAMPLE_C = 40_503

#: ``sampled_quantiles`` cuts samples up to this size with a top-k heap;
#: larger ones with a bucketed rank (see there). The two cross here: on a
#: 4-vCPU VM (local[4], 4 GB driver, median of 5) over 2M rows in 4
#: partitions, heap/bucketed took 0.37/0.86 s at 2^8, 0.40/0.83 s at 2^12,
#: 1.12/1.33 s at 2^16, 1.37/1.16 s at 2^17, 2.33/1.12 s at 2^18 and
#: 4.57/2.32 s at 2^20. On the 5,000-row sf0.1 documents the heap stays at
#: ~0.4 s up to 2^22 (bucketed 0.8-1.2 s), but each task allocates its
#: 2·sample_k-slot buffer up front, ~8 GB at 10**9, where the bucketed
#: rank takes 1.2 s (3.8 s over the 2M rows).
_TOPK_HEAP_MAX = 1 << 16
#: bucket width, in hash bits, of that rank: < 2**14 buckets over SAMPLE_MOD
_RANK_BUCKET_BITS = 16


def sample_bucket(id_col: str | F.Column, buckets: int = 1000) -> F.Column:
    """The row's deterministic sample bucket in [0, buckets): LCG hash of
    the integer id, pure int64 arithmetic (no overflow for ids < 3.4e9
    against INT64_MAX; at larger id spaces pre-mod the id)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.pmod(c.cast("long") * F.lit(SAMPLE_A) + F.lit(SAMPLE_C), F.lit(SAMPLE_MOD)),
        F.lit(buckets),
    )


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    rate_permille: int = 100,
    buckets: int = 1000,
) -> DataFrame:
    """Keep rows whose sample bucket < ``rate_permille`` (≈ rate/1000).

    A pure filter: survives predicate pushdown, costs no shuffle, selects
    the same rows on every run/engine/retry.
    """
    return df.filter(sample_bucket(id_col, buckets) < F.lit(int(rate_permille)))


def weighted_mix(
    df: DataFrame,
    group_col: str,
    rates_permille: dict[str, int],
    id_col: str = "doc_id",
    default_permille: int = 0,
    buckets: int = 1000,
) -> DataFrame:
    """Domain-reweighted corpus mix: keep each group at its own sampling
    rate (DoReMi/Pile-style source reweighting).

    ``rates_permille`` maps group value → keep-rate in ‰; groups absent
    from the map use ``default_permille`` (0 = drop). Selection reuses the
    deterministic LCG bucket, so the mix is stable across runs/engines and
    — crucially — MONOTONE in the rate: raising a group's rate only ADDS
    rows to its sample (bucket < rate is a nested family), which keeps
    incremental re-mixes consistent with earlier ones. Still a pure
    scan-stage filter; the rate table folds into the predicate as a
    literal CASE (no join at any scale).
    """
    rate = F.lit(int(default_permille))
    for g, r in sorted(rates_permille.items()):
        rate = F.when(F.col(group_col) == F.lit(g), F.lit(int(r))).otherwise(rate)
    return df.filter(sample_bucket(id_col, buckets) < rate)


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    budgets: dict[str, int],
    token_col: str,
    id_col: str = "doc_id",
    default_budget: int = 0,
    shards: int = 32,
) -> DataFrame:
    """Per-group TOKEN budgets: keep each group's documents, in a
    deterministic pseudo-random order, until the cumulative ``token_col``
    reaches the group's budget (the doc that crosses the line is kept).

    Pretraining mixes are specified in tokens, not rows — "1B tokens of
    source X" — which ``weighted_mix``'s rate semantics can't express
    without knowing the corpus size in advance. Selection order is
    ``(shard, lcg_hash(id), id)`` with ``shard = lcg_hash(id) mod S``:
    pseudo-random w.r.t. content (no head-of-corpus bias), pure integer
    arithmetic (stable across runs/retries/engines, same discipline as
    ``hash_sample``), and MONOTONE in the budget — raising a group's
    budget only appends documents to its prefix, so incremental re-mixes
    nest exactly like ``weighted_mix`` rates.

    Scale shape (the reason for the shard level): a single per-group
    running sum would serialize each group through one reducer. Instead
    the exclusive cumsum runs per (group, shard) — high-cardinality
    windows, one full-data exchange — while the shard totals take a
    map-side-combined aggregate whose exchange carries only
    groups × shards rows per task, and the shard-to-shard running offsets
    are computed on that tiny frame and broadcast back. A doc is kept iff
    its shard offset plus its within-shard exclusive cumsum is still
    under budget — exactly the global prefix in shard-major order, with
    the budget boundary landing inside a single shard per group.

    Groups absent from ``budgets`` get ``default_budget`` (0 = drop).
    """
    hkey = F.pmod(
        F.col(id_col).cast("long") * F.lit(SAMPLE_A) + F.lit(SAMPLE_C),
        F.lit(SAMPLE_MOD),
    )
    shard = F.pmod(hkey, F.lit(int(shards)))
    budget = F.lit(int(default_budget)).cast("long")
    for g, b in sorted(budgets.items()):
        budget = F.when(F.col(group_col) == F.lit(g), F.lit(int(b))).otherwise(budget)

    tagged = df.withColumn("__hk", hkey).withColumn("__sh", shard)
    w = (
        Window.partitionBy(group_col, "__sh")
        .orderBy("__hk", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum(F.col(token_col).cast("long")).over(w), F.lit(0))
    totals = tagged.groupBy(group_col, "__sh").agg(
        F.sum(F.col(token_col).cast("long")).alias("__sht")
    )
    wofs = (
        Window.partitionBy(group_col)
        .orderBy("__sh")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__ofs", F.coalesce(F.sum("__sht").over(wofs), F.lit(0))
    ).drop("__sht")
    return (
        tagged.withColumn("__cum", cum_excl)
        .join(F.broadcast(offsets), [group_col, "__sh"])
        .filter(F.col("__ofs") + F.col("__cum") < budget)
        .drop("__hk", "__sh", "__cum", "__ofs")
    )


def temperature_rates(
    df: DataFrame,
    group_col: str,
    tau: float = 0.7,
    max_permille: int = 1000,
) -> dict[str, int]:
    """Per-group keep rates (‰) realizing temperature sampling — the
    multilingual mixing rule (XLM-R/mT5 style): target share of group i is
    ``p_i^tau / Σ p_j^tau`` where ``p_i`` is its corpus share. ``tau<1``
    flattens the distribution (upweights small languages/domains) without
    upsampling: rates scale as ``n_i^(tau-1)``, normalized so the group
    needing the highest rate sits at ``max_permille`` (never >1000 — this
    is sampling, not duplication). Feed the returned dict straight into
    :func:`weighted_mix`, which keeps selection a zero-shuffle scan
    predicate.

    Driver cost: one map-side-combined count aggregate collecting ONE row
    per group — groups are languages/sources (tens to thousands), never
    data-scale.
    """
    if tau <= 0:
        raise ValueError("tau must be positive")
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return {}
    # rate_i ∝ n_i^(tau-1); for tau<1 the smallest group needs the largest
    # rate — pin it to max_permille and scale the rest
    weights = {g: float(n) ** (tau - 1.0) for g, n in counts.items()}
    top = max(weights.values())
    return {
        g: max(1, min(1000, round(max_permille * w / top)))
        for g, w in weights.items()
    }


def quota_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quota: int,
    sub_shards: int = 1,
    order: str = "id",
) -> DataFrame:
    """At most ``quota`` rows per group.

    ``order="id"`` (default) keeps the ``quota`` smallest ids —
    deterministic representatives, but on an ingestion-ordered corpus
    that means "the oldest documents of each domain", a temporal bias.
    ``order="hash"`` keeps the ``quota`` rows with smallest LCG hash of
    the id instead: an unbiased deterministic sample per group (the same
    decorrelation move as the spread IVF fit), still stable across
    runs/engines/retries.

    ``sub_shards=S`` first caps each (group, id mod S) sub-shard at
    ``quota`` in parallel, then applies the exact global cap over the
    ≤ S·quota survivors — same result, bounded exchange (the two-level
    pattern shared with ``stratified_split``/``knn_join``).
    """
    if order == "id":
        key = F.col(id_col)
    elif order == "hash":
        key = F.pmod(
            F.col(id_col).cast("long") * F.lit(SAMPLE_A) + F.lit(SAMPLE_C),
            F.lit(SAMPLE_MOD),
        )
    else:
        raise ValueError(f"order must be 'id' or 'hash', got {order!r}")
    if sub_shards > 1:
        sub = F.pmod(F.col(id_col).cast("long"), F.lit(int(sub_shards)))
        wpre = Window.partitionBy(group_col, sub).orderBy(key, F.col(id_col))
        df = df.withColumn("__prerank", F.row_number().over(wpre)).filter(
            F.col("__prerank") <= quota
        ).drop("__prerank")
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= quota)
        .drop("__rank")
    )


def exemplars_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY ``min(k, group size)`` deterministic exemplar rows per
    group — the "show me 5 random-looking docs from every source/language/
    cluster" operation of corpus review, with the retry/engine stability
    every sampler in this module guarantees: rank rows inside each group
    by (LCG hash of id, id) and keep rank ≤ k. Unlike the rate-based
    :func:`hash_sample` / :func:`quota_per_group` cap (which cannot
    promise a floor), the count is exact; unlike ``ORDER BY rand()``
    the selection replays bit-for-bit in the SQL oracle.

    Scale: one shuffle keyed on ``group_col`` with a rank window — and
    because only rank ≤ k survives, Spark plans the per-partition
    WindowGroupLimit fold, so each map task forwards at most k rows per
    group to the exchange (the same pre-exchange bound the kNN join
    relies on). Skewed groups therefore do NOT ship their full mass."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(group_col).orderBy(
        sample_bucket(id_col, 1_000_000_007).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .drop("__rk")
    )


def pps_systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    rank_partitions: int = 32,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sample of ~``k`` rows
    (Madow 1949): walk the id-ordered corpus with a stride of
    ``W_total / k`` cumulative weight and keep each row a stride boundary
    lands in — the weighted-sampling primitive behind "pick 1M documents
    proportional to token count" that a uniform ``hash_sample`` gets
    wrong (it over-represents short documents per token).

    Exactly-integer selection rule: with inclusive cumulative weight
    ``c_i`` (ordered by id) and total ``W``, row ``i`` is kept iff
    ``(c_i · k) div W > (c_{i-1} · k) div W`` — i.e. its weight interval
    contains a multiple of ``W/k``. All arithmetic is DECIMAL(38,0)
    integer multiply/divide, so the row set is bit-reproducible on every
    engine (no transcendental key like Efraimidis–Spirakis ``u^(1/w)``,
    whose libm pow/log can differ by an ulp across engines and flip a
    rank). Deterministic: no randomness at all — the "random start" of
    classic systematic PPS is pinned to the stride end. Selects exactly
    ``k`` rows when no single weight exceeds ``W/k``; a heavier row is
    selected once however many boundaries it swallows (so ≤ ``k``
    overall, with heavy rows ALWAYS selected — the PPS certainty-unit
    property). Rows with NULL or non-positive weight are excluded.

    Scale shape: Spark has no scalable global running sum (an
    unpartitioned window is one reducer), so the cumsum is two-phase
    like ``packing.shard_assign``'s global rank: ``repartitionByRange``
    on the id, per-range window cumsum, per-range totals (≤
    ``rank_partitions`` rows) collected once and rejoined broadcast as
    offsets. One range shuffle + one bounded collect; selection itself
    is a row-local predicate.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if rank_partitions <= 0:
        raise ValueError("rank_partitions must be positive")
    w = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__w", F.col(weight_col).cast("long"))
    ranged = w.repartitionByRange(
        int(rank_partitions), F.col(id_col).asc()
    ).withColumn("__pid", F.spark_partition_id())
    # bounded collect: one row per range partition (see shard_assign for
    # why __pid is stable across the two executions of this exchange)
    counts = sorted(
        (r["__pid"], r["s"])
        for r in ranged.groupBy("__pid").agg(F.sum("__w").alias("s")).collect()
    )
    offsets, acc = [], 0
    for pid, s in counts:
        offsets.append((pid, acc))
        acc += int(s)
    total = acc
    if total == 0:
        return df.filter(F.lit(False))
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid INT, __off LONG")
    local_cum = F.sum("__w").over(
        Window.partitionBy("__pid")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ci = (F.col("__off") + local_cum).cast("decimal(38,0)")
    sel = F.expr(
        f"(__ci * {int(k)}) div {total} > ((__ci - __w) * {int(k)}) div {total}"
    )
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn("__ci", ci)
        .filter(sel)
        .drop("__pid", "__off", "__ci", "__w")
    )


def pps_systematic_sample_by(
    df: DataFrame,
    group_cols: list[str],
    k_per_group: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """STRATIFIED :func:`pps_systematic_sample`: ~``k_per_group`` rows per
    ``group_cols`` combination, probability proportional to the weight
    WITHIN the group — "97 docs per language, sampled per character" (a
    global PPS would let a high-volume language crowd out the rest; a
    uniform per-group quota would over-represent short documents).

    Same integer selection rule as the global form, applied per group:
    with the group's inclusive cumulative weight ``c_i`` (id order) and
    group total ``W_g``, keep row ``i`` iff ``(c_i·k) div W_g >
    (c_{i-1}·k) div W_g`` — DECIMAL(38,0) arithmetic, bit-reproducible,
    heavy rows are per-group certainty units.

    Scale shape: the cumsum window PARTITIONS BY the group, so there is
    no single-reducer hazard and no two-phase dance — one shuffle on the
    group key for the window plus one map-side-combined group-total
    aggregate joined back (broadcast when groups are few; the group
    totals frame is |groups| rows). Skewed groups cost what scanning
    them costs: the window is one pass in group-partition order.
    """
    if k_per_group <= 0:
        raise ValueError("k_per_group must be positive")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use pps_systematic_sample)")
    w = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__w", F.col(weight_col).cast("long"))
    totals = w.groupBy(*group_cols).agg(F.sum("__w").alias("__wg"))
    cum = F.sum("__w").over(
        Window.partitionBy(*group_cols)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = int(k_per_group)
    sel = F.expr(
        f"(__ci * {k}) div __wg > ((__ci - __w) * {k}) div __wg"
    )
    return (
        w.withColumn("__ci", cum.cast("decimal(38,0)"))
        .join(totals, group_cols)
        .filter(sel)
        .drop("__w", "__ci", "__wg")
    )


def sampled_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    sample_k: int = 4096,
    id_col: str = "doc_id",
) -> DataFrame:
    """Approximate quantiles by DETERMINISTIC uniform sampling →
    ``(p, q)`` — the oracle-checkable alternative to a GK/t-digest
    sketch: those estimators are sequential and order-dependent (their
    state can't be replayed relationally — why ``corpus_profile_approx``
    is rows-only), whereas this one's entire randomness is the LCG hash
    of the id, so a SQL engine reproduces the identical sample and the
    identical estimates.

    Sample = the ``sample_k`` rows with the smallest full-range LCG hash
    (ties by id) — a uniform sample without replacement, stable across
    runs/engines/retries; estimate for ``p`` = the sample's order
    statistic at rank ``floor((n-1)·p + 0.5)`` (integer rank on the
    sorted sample — no interpolation arithmetic to diverge between
    engines). Standard error ~ ``sqrt(p(1-p)/k)`` quantile mass: k=4096
    puts the median within ~0.8% of corpus mass with 95% confidence,
    independent of corpus size.

    Scale shape: up to ``_TOPK_HEAP_MAX`` rows the sample cut is
    ``TakeOrderedAndProject`` (per-partition heap of ``sample_k``, no
    global sort). Its heap is allocated for the whole limit up front, so a
    larger ``sample_k`` (up to "everything", e.g. ``10**9``) instead ranks
    rows by hash bucket: bucket counts (< 2**14 rows) give each bucket's
    offset, whole buckets below ``sample_k`` are kept, and only the one
    bucket straddling it is row-numbered — aggregates and spillable
    windows, memory bounded for any ``sample_k``, the same rows. The rank
    window over the sample is single-partition work on
    ``min(sample_k, rows)`` rows. NULL values are excluded (quantiles of
    the non-null population).
    """
    if not probs:
        raise ValueError("probs must be non-empty")
    if sample_k <= 0:
        raise ValueError("sample_k must be positive")
    for p in probs:
        if not 0.0 <= float(p) <= 1.0:
            raise ValueError(f"prob {p} outside [0, 1]")
    hash_col = F.pmod(
        F.col(id_col).cast("long") * F.lit(SAMPLE_A) + F.lit(SAMPLE_C),
        F.lit(SAMPLE_MOD),
    )
    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("__v"),
        hash_col.alias("__h"),
    )
    order = [F.col("__h").asc(), F.col("__id").asc()]
    if sample_k <= _TOPK_HEAP_MAX:
        sample = rows.orderBy(*order).limit(int(sample_k))
    else:
        sample = _smallest_by_hash_bucket(rows, int(sample_k), order)

    ranked = sample.select(
        "__v",
        (
            F.row_number().over(Window.orderBy(F.col("__v").asc(), F.col("__id").asc()))
            - 1
        ).alias("__r"),
        F.count("*").over(Window.partitionBy()).alias("__n"),
    )
    targets = None
    for p in probs:
        t = F.struct(
            F.lit(float(p)).alias("p"),
            F.floor((F.col("__n") - 1) * F.lit(float(p)) + 0.5)
            .cast("long")
            .alias("r"),
        )
        targets = F.array(t) if targets is None else F.concat(targets, F.array(t))
    return (
        ranked.select("__v", "__r", F.explode(targets).alias("t"))
        .filter(F.col("__r") == F.col("t.r"))
        .select(F.col("t.p").alias("p"), F.col("__v").alias("q"))
        .orderBy("p")
    )


def _smallest_by_hash_bucket(rows: DataFrame, k: int, order: list) -> DataFrame:
    """The ``k`` rows of ``rows`` first in ``order`` (``__h`` then
    ``__id``, ascending, NULLs first) without a k-sized heap: buckets of
    ``__h`` (NULL hashes in bucket -1, first like a NULL-first sort) are
    counted, each bucket's offset is the running count below it, and only
    the bucket that straddles ``k`` is row-numbered."""
    tagged = rows.withColumn(
        "__b", F.coalesce(F.shiftright("__h", _RANK_BUCKET_BITS), F.lit(-1))
    )
    below = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("__b")
        .agg(F.count("*").alias("__c"))
        .withColumn("__o", F.coalesce(F.sum("__c").over(below), F.lit(0)))
    )
    placed = tagged.join(F.broadcast(offsets), "__b")
    whole = placed.filter(F.col("__o") + F.col("__c") <= k)
    edge = (
        placed.filter((F.col("__o") < k) & (F.col("__o") + F.col("__c") > k))
        .withColumn(
            "__r", F.row_number().over(Window.partitionBy("__b").orderBy(*order))
        )
        .filter(F.col("__o") + F.col("__r") <= k)
    )
    cols = ["__id", "__v", "__h"]
    return whole.select(*cols).unionByName(edge.select(*cols))
