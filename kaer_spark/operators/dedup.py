"""Deduplication family: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine — the core LLM-training-data operators.

None of these exist in the reference (SURVEY.md §2.3); they are the
north-star extensions, built from Catalyst expressions plus one set of
Arrow UDFs: the paired-moduli window fingerprints (passage, winnowing,
char-MinHash and content-defined-chunking paths) come from
``kaer_spark.functions.fphash``. Every variant is reproducible by a SQL
oracle — those fingerprints are plain int64 polynomial arithmetic, not JVM
murmur/xxhash, precisely so DuckDB can replay them bit-for-bit. (The
shingle-join stages key on Spark's ``xxhash64``; see
:func:`ngram_jaccard_between` for what that costs in exactness.)

Scale design (100 TB):

* exact dedup — hash-aggregate on the key projection; map-side partial
  aggregation makes the shuffle carry one row per distinct key per task.
* n-gram Jaccard — inverted-index self-join on shingles. The
  ``max_doc_freq`` cap drops ubiquitous shingles (stopword-grams), which is
  what keeps the candidate-pair explosion bounded on web-scale corpora.
* MinHash-LSH — fixed-width signatures (k hashes) + banding: candidate
  pairs only for band collisions, then exact-Jaccard verification of the
  candidates. Shuffle volume is O(docs × bands), independent of corpus
  pair count.
* SimHash — one 24-bit fingerprint per doc, banded by bytes; hamming
  verification via bit_count(xor).
* embedding near-dup — banded sign-LSH candidates + exact-cosine verify
  (``embedding_near_dups_lsh``), with ``calibrate_signlsh`` sizing the
  band geometry to corpus scale; the blocked all-pairs form
  (``embedding_near_dups``) remains as the small-data/oracle baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaer_spark.functions.fphash import (
    HASH_BASE,
    HASH_BASE2,
    HASH_MOD,
    HASH_MOD2,
    minhash_sig_col,
    window_fps_col,
    winnow_selections_col,
)
from kaer_spark.functions.text import char_shingles, tokens, word_shingles
from kaer_spark.functions.vector import cached_expr, dot, vector_norm
from kaer_spark.operators.util import (
    above_watermark,
    ensure_parallelism,
    flip_watermark,
    floor_watermark,
    json_id,
    open_refresh,
    ranked_quantiles,
    vec_dim,
    watermark_health_cols,
)
from kaer_spark.sources.files import read_parquet, read_sidecar, write_sidecar

# HASH_* are defined once, in functions.fphash, and imported here. Callers
# in this module pass them to the fphash UDFs at call time, so reassigning
# them on this module (tests force collisions that way) takes effect.
SIMHASH_BITS = 24


def _poly_hash(str_col: Column) -> Column:
    """Polynomial char hash of a (short) string column — same recurrence as
    functions.text.doc_fingerprint; pure int64 arithmetic, oracle-replayable."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(str_col)),
        lambda i: F.ascii(F.substring(str_col, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    ``h_j(x) = (a_j·x + b_j) mod P`` — derived from the seed by a fixed
    LCG so the oracle SQL can embed the identical constants."""
    coeffs = []
    state = seed * 2654435761 % HASH_MOD
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % HASH_MOD
        a = state | 1  # odd, non-zero
        state = (state * 1103515245 + 12345) % HASH_MOD
        b = state
        coeffs.append((a, b))
    return coeffs


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, keys: list[str], id_col: str = "doc_id") -> DataFrame:
    """One representative row id per distinct key group (deterministic:
    min id), plus the group size. ``dropDuplicates`` keeps an arbitrary row;
    this variant is stable and therefore oracle-checkable."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("dup_count")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dedup (inverted-index self-join)
# ---------------------------------------------------------------------------
def _shingle_expr(text_col: str, n: int, unit: str) -> Column:
    if unit == "char":
        return char_shingles(text_col, n=n)
    if unit == "word":
        return word_shingles(text_col, n=n)
    raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")


# Output id columns of the self-join forms (canonical ``a < b``) and of the
# cross-corpus forms (left corpus / right corpus or stored index).
_SELF_IDS = ("id_a", "id_b")
_CROSS_IDS = ("left_id", "right_id")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    unit: str = "char",
) -> DataFrame:
    """Pairs (id_a < id_b) whose distinct ``n``-gram Jaccard ≥ threshold;
    ``unit`` selects char shingles (robust to tokenization, the web-dedup
    default) or word shingles (coarser, ~10× fewer postings per doc).

    ``max_doc_freq`` drops shingles occurring in more than that many docs
    before the join — the standard web-scale candidate-pruning knob. It
    changes the semantics to "Jaccard over rare shingles": set sizes are
    recomputed over the *kept* shingles so intersection and union agree.
    (Ubiquitous shingles carry no dedup signal but dominate sum(df²), the
    inverted-join's pair work — the cap is what bounds shuffle volume on a
    web-scale corpus. Leave None for exact Jaccard.)

    Plan shape: over-the-cap shingles are by construction *few distinct
    values* (each needs > max_doc_freq postings), so the cap is applied as a
    broadcast ANTI join against that heavy-hitter set — the full inverted
    index is never shuffled just to filter it, and the skewed join keys are
    gone before the self-join. The shingle arrays are checkpointed
    pre-explode because several consumers need them (see
    :func:`_shingle_postings`). Pair kernel: :func:`_ngram_pair_counts`.
    """
    return _ngram_jaccard(
        _ngram_text_counts(df, id_col, text_col, n, max_doc_freq, unit),
        threshold, _SELF_IDS,
    )


def _shingle_postings(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str
) -> DataFrame:
    """``(id, g)`` postings of the from-text forms: one row per distinct
    shingle of each document, ``g`` the int64 shingle hash.

    [r18] The frame is projected to ``(id, text)`` BEFORE the widening
    exchange (guide §2.3: the round-robin repartition otherwise moves
    every column of the caller's frame; documents fixtures carry
    lang/source/n_chars that the pair stage never reads), and the
    inverted index shuffles/joins an int64 shingle hash, not the shingle
    string (guide §2.3 narrower types / §6): every downstream consumer
    (doc-freq cap, size aggregate, pair join) only needs shingle
    IDENTITY, and xxhash64 is collision-free on the fixtures (verified:
    distinct shingles == distinct hashes at sf0.001/0.01/0.1; a test pins
    hashed-vs-string value equality). At web scale a 64-bit collision
    merges two shingles' postings with probability ~n²/2⁶⁵ — the same
    trade minhash banding already makes, and far below the doc-freq
    cap's own semantic effect."""
    sh = (
        ensure_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        )
        .select("id", _shingle_expr("__t", n, unit).alias("shingles"))
        .filter(F.size("shingles") > 0)
        # multi-consumer frame: the doc-freq cap, the size aggregate and
        # both sides of the pair join read the shingle arrays (eager=False
        # folds the materialization into the first consuming job)
        .localCheckpoint(eager=False)
    )
    return sh.select("id", F.explode("shingles").alias("__g")).select(
        "id", F.xxhash64("__g").alias("g")
    )


def _hot_shingles(inv: DataFrame, cap: int) -> DataFrame:
    """The shingles of ``inv`` posted by more than ``cap`` documents —
    heavy-hitter-sized by construction (each needs > cap postings), so
    every consumer broadcasts them."""
    return (
        inv.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("g")
    )


def _hot_counts(inv: DataFrame, hot: DataFrame) -> DataFrame:
    """``(id, hot_cnt)``: each document's postings among the ``hot``
    shingles — the size correction of the doc-freq cap."""
    return (
        inv.join(F.broadcast(hot), "g", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("hot_cnt"))
    )


def _hot_cap(
    inv: DataFrame,
    hot: DataFrame | None,
    sizes: DataFrame | None = None,
    corr: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One side's ``(postings, sizes)`` under the doc-freq cap — the one
    place the cap is applied. ``hot`` (None = uncapped) broadcasts into an
    anti-join on the postings. Without ``sizes`` the per-doc set sizes
    are counted over the kept postings (the from-text sides); with stored
    UNCAPPED sizes each doc's hot-shingle count (``corr`` when it was
    precomputed at the index's watermark flip) is subtracted — exact,
    because shingle sets are distinct per doc, and the correction touches
    only the hot postings, a heavy-hitter-sized slice."""
    if hot is not None and sizes is not None:
        if corr is None:
            corr = _hot_counts(inv, hot)
        sizes = sizes.join(corr, "id", "left").select(
            "id",
            (F.col("sz") - F.coalesce(F.col("hot_cnt"), F.lit(0))).alias("sz"),
        )
    if hot is not None:
        inv = inv.join(F.broadcast(hot), "g", "left_anti")
    if sizes is None:
        sizes = inv.groupBy("id").agg(F.count("*").alias("sz"))
    return inv, sizes


def _ngram_pair_counts(
    left: tuple[DataFrame, DataFrame],
    right: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The one pair kernel of the shingle-overlap family: distinct-shingle
    intersection counts plus both set sizes, from ONE inverted join on
    the shingle (the candidate stage) and one count aggregate per pair.
    Each side is a ``(postings (id, g), sizes (id, sz))`` source. With no
    ``right`` it is the self-join — ``(id_a < id_b, inter, sz_a, sz_b)``;
    with one, the cross join ``(left_id, right_id, inter, sz_a, sz_b)``.
    The Jaccard and containment scorers are pure projections on top.

    Pair generation stays the inverted JOIN: measured against a
    grouped-posting-array alternative (collect_list per shingle + double
    explode — one shuffle of the kept postings) in r13 and the join won
    at sf0.1 (4.4s vs 5.0s min, same-canary): locally the join side
    broadcasts (zero shuffle), and at cluster scale AQE's stat gate
    replaces that broadcast with a shuffle join whose volume equals the
    grouped shuffle — so the join shape is never worse, and streams
    per-key instead of buffering posting arrays. [r14] For the RECURRING
    regime the pre-join stages (explode, doc-freq cap, size agg) serve
    from a standing artifact instead (:func:`build_shingle_index`),
    measured 4× cheaper per call at sf0.1 (0.86s vs 3.41s min) with this
    same join."""
    linv, lsz = left
    rinv, rsz = left if right is None else right
    ia, ib = _SELF_IDS if right is None else _CROSS_IDS
    j = linv.alias("a").join(rinv.alias("b"), on="g")
    if right is None:
        j = j.filter(F.col("a.id") < F.col("b.id"))
    pairs = j.groupBy(F.col("a.id").alias(ia), F.col("b.id").alias(ib)).agg(
        F.count("*").alias("inter")
    )
    return pairs.join(
        lsz.select(F.col("id").alias(ia), F.col("sz").alias("sz_a")), ia
    ).join(rsz.select(F.col("id").alias(ib), F.col("sz").alias("sz_b")), ib)


def _ngram_jaccard(
    counts: DataFrame, threshold: float, ids: tuple[str, str]
) -> DataFrame:
    """The Jaccard scorer over :func:`_ngram_pair_counts` output."""
    return (
        counts.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*ids, "jaccard")
    )


def _ngram_containment(
    counts: DataFrame, threshold: float, ids: tuple[str, str]
) -> DataFrame:
    """The Broder containment scorer over :func:`_ngram_pair_counts`
    output: both directions, named ``containment_a_in_b`` /
    ``containment_b_in_a`` for the self-join and ``containment_l_in_r`` /
    ``containment_r_in_l`` for the cross forms."""
    a, b = ("a", "b") if ids == _SELF_IDS else ("l", "r")
    ab, ba = f"containment_{a}_in_{b}", f"containment_{b}_in_{a}"
    return (
        counts.withColumn(ab, F.col("inter").cast("double") / F.col("sz_a"))
        .withColumn(ba, F.col("inter").cast("double") / F.col("sz_b"))
        .filter(F.greatest(ab, ba) >= threshold)
        .select(*ids, ab, ba)
    )


def _ngram_text_counts(
    left: DataFrame,
    left_id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    unit: str,
    right: DataFrame | None = None,
    right_id_col: str = "doc_id",
) -> DataFrame:
    """:func:`_ngram_pair_counts` over from-text sources: ``left`` alone
    (self-join) or ``left`` × ``right``. The doc-freq cap counts the
    reference corpus — ``right`` when given, the side the screen is
    defined against, matching the indexed form where the hot set comes
    from the reference artifact's stored doc-freq state — and applies
    to both sides."""
    linv = _shingle_postings(left, left_id_col, text_col, n, unit)
    rinv = None
    if right is not None:
        rinv = _shingle_postings(right, right_id_col, text_col, n, unit)
    hot = None
    if max_doc_freq is not None:
        hot = _hot_shingles(linv if rinv is None else rinv, max_doc_freq)
        if rinv is not None:
            # two-consumer frame: both sides' anti-joins read it
            hot = hot.localCheckpoint(eager=False)
    return _ngram_pair_counts(
        _hot_cap(linv, hot), None if rinv is None else _hot_cap(rinv, hot)
    )


def build_shingle_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_doc_freq: int | None = None,
    unit: str = "char",
) -> dict:
    """Materialize the shingle inverted index at ``path`` — the at-rest
    artifact for the RECURRING-dedup regime (the keep-best cluster-table /
    PQ code-table precedent, r13 verdict #8): a pipeline that re-runs
    near-dup detection per crawl snapshot pays the shingle explode, the
    heavy-hitter doc-freq pass, and the per-doc size aggregate on every
    call, although none of them changed. Build (format v2) writes

    ``<path>/postings/``  (id, g) — the UNCAPPED posting list,
    ``<path>/sizes/``     (id, sz) — per-doc distinct-shingle counts
                          (per-doc independent, so append-sound),
    ``<path>/df/<seg>/``  (g, cnt) — per-shingle doc-freq counts for one
                          watermark window (MERGEABLE on append — the
                          state the doc-freq cap needs),
    ``<path>/hot/<tag>/`` (g) — the over-cap shingles at the current
                          watermark, precomputed so serving never pays
                          the corpus-wide doc-freq aggregate, and
    ``<path>/shingle_index.json``  the frozen parameters + watermark +
                          the LIST of live df segments / hot table.

    :func:`ngram_jaccard_pairs_indexed` then serves pairs with ONE
    self-join + one aggregate — measured 4× cheaper than the from-text
    operator at sf0.1 (0.86s vs 3.41s min, same session). Unlike format
    v1 (which froze the ``max_doc_freq`` cap at build by writing capped
    postings — rebuild-only, because an append would silently change
    which shingles are over the cap), v2 stores the cap's INPUT (the
    mergeable doc-freq counts) and applies the cap at SERVE time, so
    :func:`refresh_shingle_index` is exact: refresh ≡ rebuild over the
    union, reference O8 catch-up (``updateIndexFromLastId``,
    ``db/db.go:191-207``) for the last at-rest index family. At 100 TB
    the postings table is the thing you'd bucket BY ``g`` (saveAsTable +
    bucketBy — the ``write_ivf_bucketed_table`` recipe) so the self-join
    carries no exchange at all; the parquet layout here keeps the
    artifact warehouse-free and portable."""
    import os as _os

    spark = df.sparkSession
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            _shingle_expr(text_col, n, unit).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        # multi-consumer frame: the postings, sizes and df-segment writes
        .localCheckpoint(eager=False)
    )
    sh.select("id", F.explode("shingles").alias("g")).write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "postings"))
    # shingle arrays are already distinct (char_shingles/word_shingles),
    # so the UNCAPPED per-doc size is just the array size — no postings
    # re-read, no aggregate
    sh.select("id", F.size("shingles").alias("sz")).write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "sizes"))
    max_id = json_id(df.agg(F.max(F.col(id_col))).collect()[0][0])
    seg = _shingle_seg_name(None, max_id)
    sh.select(F.explode("shingles").alias("g")).groupBy("g").agg(
        F.count("*").alias("cnt")
    ).write.mode("overwrite").parquet(_os.path.join(path, "df", seg))
    hot_dir = None
    corr_dir = None
    if max_doc_freq is not None:
        hot_dir = "hot/" + _shingle_seg_name("hot", max_id)
        corr_dir = _write_shingle_hot(spark, path, [seg], max_doc_freq, hot_dir)
    meta = {
        "version": 2,
        "id_col": id_col,
        "text_col": text_col,
        "n": int(n),
        "unit": unit,
        "max_doc_freq": max_doc_freq,
        "max_id": max_id,
        "df_segments": [seg],
        "hot_dir": hot_dir,
        "corr_dir": corr_dir,
    }
    write_sidecar(_os.path.join(path, "shingle_index.json"), meta)
    return meta


def _shingle_seg_name(lo, hi) -> str:
    """Deterministic directory name for a df segment / hot table covering
    the watermark window ``(lo, hi]`` — a replay of the same window
    rewrites (mode overwrite) the SAME directory instead of orphaning a
    twin, and a replay of a GROWN window writes a different one that only
    becomes live when the sidecar flip lists it."""
    import hashlib

    return "s_" + hashlib.md5(f"{lo!r}|{hi!r}".encode()).hexdigest()[:12]


def _write_shingle_hot(spark, path: str, segs: list, cap: int, hot_dir: str):
    """Merge the listed df segments (sum per-shingle counts — doc-freq is
    additive across disjoint id windows) and persist the over-cap shingle
    set. The hot table is heavy-hitter-sized by construction (every
    member needs > cap postings), so serving broadcasts it.

    Also materializes the per-doc hot-shingle COUNTS (``corr/<tag>``,
    ``(id, hot_cnt)``) the serving paths need to correct the stored
    uncapped sizes: the correction is corpus-static between watermark
    flips, so computing it here — one postings pass per flip — replaces
    an aggregation over the full postings table on EVERY serve call
    (:func:`_ngram_index_counts`). Same
    deterministic naming and replay-overwrite property as the hot table;
    activated by the same atomic sidecar flip. Returns the corr dir."""
    import os as _os
    from functools import reduce

    parts = [read_parquet(spark, _os.path.join(path, "df", s)) for s in segs]
    merged = reduce(lambda a, b: a.unionByName(b), parts)
    merged.groupBy("g").agg(F.sum("cnt").alias("cnt")).filter(
        F.col("cnt") > cap
    ).select("g").write.mode("overwrite").parquet(_os.path.join(path, hot_dir))
    corr_dir = "corr/" + _os.path.basename(hot_dir)
    _hot_counts(
        read_parquet(spark, _os.path.join(path, "postings")),
        read_parquet(spark, _os.path.join(path, hot_dir)),
    ).write.mode("overwrite").parquet(_os.path.join(path, corr_dir))
    return corr_dir


def refresh_shingle_index(
    df: DataFrame,
    path: str,
    advance_to=None,
    *,
    batch=None,
) -> dict:
    """Catch-up for the at-rest shingle inverted index — reference O8
    (``updateIndexFromLastId``, ``db/db.go:191-207``) for the LAST
    standing-index family, in exactly the regime the index exists for
    (per-crawl-snapshot recurring dedup ingests new documents). Sound
    because format v2 stores the doc-freq cap's INPUT, not its output:
    postings and sizes are per-doc independent (append rows for ids above
    the watermark), and the per-shingle doc-freq counts land as one more
    MERGEABLE segment — which shingles are over the cap is re-decided
    from the merged counts at every watermark flip and served from the
    precomputed ``hot/`` table, so refresh ≡ rebuild over the union
    (value-gated by the driver's ``shingle_index_catchup`` query).
    Legacy v1 artifacts (capped postings) raise: their cap is frozen at
    build and an append would silently change it — rebuild instead.

    Idempotent against every crash window (the ``refresh_minhash_index``
    discipline, extended to the list-of-segments state):
    * per-id tables append ghost-guarded — postings first (anti-joined
      against its own ids above the watermark), sizes LAST (its ids
      define "fully indexed", so a replayed tail drops finished docs);
    * the df segment is derived from the ON-DISK postings over the
      window ``(wm, new_max]`` — it therefore also covers rows a crashed
      earlier run appended for docs this run's done-guard skipped — and
      written to a window-named directory that is INVISIBLE until the
      sidecar flip lists it (a replay of the same window overwrites it;
      a replay of a grown window orphans it, and orphans are swept after
      the next successful flip);
    * the hot table is likewise rewritten to a fresh watermark-named
      directory and activated by the same single atomic sidecar flip
      that advances the watermark and the segment list.

    ``advance_to`` (optional) floors the flipped watermark — for
    screen-and-drop callers (``streaming.ingest.neardup_ingest_batch``):
    a dropped doc's id is decided but never stored. Ids must be int or
    string (enforced at build by :func:`~kaer_spark.operators.util.json_id`) and append-only above
    the watermark. ``batch`` is the id range an insert just wrote
    (:func:`~kaer_spark.operators.util.open_refresh`)."""
    import os as _os
    import shutil as _shutil

    spark = df.sparkSession
    meta = read_shingle_index_meta(path)
    if meta.get("version") != 2:
        raise ValueError(
            "legacy (v1) shingle-index artifact: its doc-freq cap was "
            "frozen into the postings at build, so an append-refresh "
            "would silently change which shingles are over the cap — "
            "rebuild with build_shingle_index (writes refreshable v2)"
        )
    icol = meta["id_col"]
    post_dir = _os.path.join(path, "postings")
    sizes_dir = _os.path.join(path, "sizes")
    wm, tail, new_max, guard = open_refresh(
        df, path, "shingle_index.json", meta, sizes_dir, "id", advance_to,
        batch,
    )
    if new_max is None:
        return meta
    # docs whose sizes row landed are fully indexed (sizes write LAST
    # among the per-id tables) — drop them from the tail entirely
    tail = guard(tail, icol, sizes_dir, "id")
    sh = (
        ensure_parallelism(tail)
        .select(
            F.col(icol).alias("id"),
            _shingle_expr(
                meta["text_col"], meta["n"], meta["unit"]
            ).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        # two-consumer frame: the postings and sizes appends
        .localCheckpoint(eager=False)
    )
    # ghost guard for the postings-landed/sizes-missing window
    guard(
        sh.select("id", F.explode("shingles").alias("g")), "id", post_dir
    ).write.mode("append").parquet(post_dir)
    sh.select("id", F.size("shingles").alias("sz")).write.mode(
        "append"
    ).parquet(sizes_dir)
    # df segment for the committed window, from the ON-DISK postings
    seg = _shingle_seg_name(wm, new_max)
    above_watermark(read_parquet(spark, post_dir), "id", wm).filter(
        F.col("id") <= F.lit(new_max)
    ).groupBy("g").agg(F.count("*").alias("cnt")).write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "df", seg))
    segs = list(meta["df_segments"]) + [seg]
    wm_new = floor_watermark(new_max, advance_to)
    hot_dir = meta.get("hot_dir")
    corr_dir = meta.get("corr_dir")
    if meta["max_doc_freq"] is not None:
        hot_dir = "hot/" + _shingle_seg_name("hot", wm_new)
        corr_dir = _write_shingle_hot(
            spark, path, segs, meta["max_doc_freq"], hot_dir
        )
    meta["df_segments"] = segs
    meta["hot_dir"] = hot_dir
    meta["corr_dir"] = corr_dir
    flip_watermark(path, "shingle_index.json", meta, wm_new)
    # sweep orphans from crashed grown-window replays (safe AFTER the
    # flip: anything not listed in the live sidecar is dead by contract)
    for sub, live in (
        ("df", set(segs)),
        ("hot", {_os.path.basename(hot_dir)} if hot_dir else set()),
        ("corr", {_os.path.basename(corr_dir)} if corr_dir else set()),
    ):
        root = _os.path.join(path, sub)
        if _os.path.isdir(root):
            for d in _os.listdir(root):
                if d not in live:
                    _shutil.rmtree(_os.path.join(root, d), ignore_errors=True)
    return meta


def write_shingle_bucketed_table(
    df: DataFrame,
    table: str,
    meta_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_doc_freq: int | None = None,
    unit: str = "char",
    num_buckets: int = 64,
) -> dict:
    """The shingle postings as a CATALOG TABLE bucketed by ``g`` — the
    ZERO-EXCHANGE layout for the recurring inverted self-join (the
    ``write_ivf_bucketed_table`` recipe applied to the dedup family's
    dominant cost). The parquet artifact of :func:`build_shingle_index`
    still shuffles (or broadcasts) the postings onto the join key per
    call; bucketing records the hash distribution in the catalog, so the
    self-join reads both sides bucket-aligned with NO exchange below the
    join — at 100 TB the postings shuffle IS the operator's cost, and
    this removes it from every recurring run (plan-asserted in
    tests/test_dedup.py). Sizes land in ``<table>_sizes`` (id-keyed,
    broadcast-sized joins); parameters in the ``meta_path`` sidecar, same
    format as the parquet artifact so either layout serves the scorers."""
    import os as _os

    from kaer_spark.sources.files import write_bucketed

    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            _shingle_expr(text_col, n, unit).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        # two-consumer frame under a cap (doc-freq count + anti-join
        # probe); a lineage cut before the bucketed write otherwise
        .localCheckpoint(eager=False)
    )
    inv = sh.select("id", F.explode("shingles").alias("g"))
    if max_doc_freq is not None:
        inv, _ = _hot_cap(inv, _hot_shingles(inv, max_doc_freq))
    write_bucketed(inv, table, ["g"], num_buckets=num_buckets, sort_by=["g"])
    spark = df.sparkSession
    kept = spark.table(table)
    kept.groupBy("id").agg(F.count("*").alias("sz")).write.mode(
        "overwrite"
    ).saveAsTable(f"{table}_sizes")
    meta = {
        "id_col": id_col,
        "text_col": text_col,
        "n": int(n),
        "unit": unit,
        "max_doc_freq": max_doc_freq,
        "table": table,
        "num_buckets": int(num_buckets),
    }
    write_sidecar(_os.path.join(meta_path, "shingle_index.json"), meta)
    return meta


def ngram_jaccard_table_pairs(
    spark, table: str, threshold: float = 0.5
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` served from the BUCKETED postings table
    — value-identical to the from-text operator over the built corpus
    (same frozen cap), with the self-join's corpus exchange gone: both
    sides of the ``g`` equi-join read the same bucketed table, so the
    join is bucket-aligned (no Exchange below it; the only shuffles left
    are the pair aggregate and the two id-keyed size joins). Kernel:
    :func:`_ngram_pair_counts`."""
    return _ngram_jaccard(
        _ngram_pair_counts((spark.table(table), spark.table(f"{table}_sizes"))),
        threshold, _SELF_IDS,
    )


def shingle_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Health report for a v2 shingle index — the dedup-family member of
    the r15 index-observability set (``index_store.ivf_index_stats`` /
    ``pq_index_stats``): one summary row from the at-rest tables alone,
    answering the questions a recurring-dedup operator actually asks —
    how big is the posting mass (``n_postings`` = the self-join's input),
    how skewed are documents (rank-based type-1 quantiles of per-doc
    distinct-shingle counts — bit-exact replayable, no interpolation
    arithmetic), how many shingles sit over the doc-freq cap
    (``n_hot_shingles``, computed from the MERGED df segments — exactly
    the state the serve-time cap reads, so a broken segment merge shows
    up here and in the oracle gate), and how stale the index is
    (``watermark``, + ``watermark_lag`` when ``corpus`` is given).

    REBUILD/REFRESH TRIGGER (documented policy): refresh on every ingest
    (cheap — tail-bound, see ``refresh_shingle_index``); consider raising
    ``max_doc_freq`` (a rebuild) only when ``n_hot_shingles`` grows to a
    material fraction of ``n_distinct_shingles`` — the cap then drops
    real signal, not just boilerplate. Legacy v1 artifacts raise (their
    capped tables can't answer the uncapped questions).

    Scale note: the doc-size quantiles use two-level rank selection
    (``util.global_ranked``: range-partitioned per-partition ranks +
    partition offsets — bit-exact, no single-reducer sort) over ONE ROW
    PER DOCUMENT (the sizes table), never posting-cardinality."""
    import os as _os
    from functools import reduce

    meta = read_shingle_index_meta(path)
    if meta.get("version") != 2:
        raise ValueError(
            "legacy (v1) shingle-index artifact: stats need the uncapped "
            "v2 tables — rebuild with build_shingle_index"
        )
    sizes = read_parquet(spark, _os.path.join(path, "sizes"))
    segs = [
        read_parquet(spark, _os.path.join(path, "df", s))
        for s in meta["df_segments"]
    ]
    merged = reduce(lambda a, b: a.unionByName(b), segs).groupBy("g").agg(
        F.sum("cnt").alias("cnt")
    )
    cap = meta["max_doc_freq"]
    hot = (
        F.sum((F.col("cnt") > F.lit(int(cap))).cast("long"))
        if cap is not None
        else F.lit(0).cast("long")
    )
    dfstats = merged.agg(
        F.count("*").alias("n_distinct_shingles"),
        hot.alias("n_hot_shingles"),
    )
    szstats = sizes.agg(
        F.count("*").alias("n_docs"),
        F.sum("sz").cast("long").alias("n_postings"),
        F.max("sz").cast("long").alias("max_doc_shingles"),
    )
    sel = ranked_quantiles(
        sizes, ["sz", "id"], szstats, "n_docs",
        "p50_doc_shingles", "p90_doc_shingles",
    )
    out = szstats.crossJoin(F.broadcast(dfstats)).crossJoin(
        F.broadcast(sel)
    )
    return watermark_health_cols(
        out, meta["max_id"], corpus, corpus_id_col or meta["id_col"]
    )


def read_shingle_index_meta(path: str) -> dict:
    import os as _os

    return read_sidecar(_os.path.join(path, "shingle_index.json"))


def _ngram_index_counts(
    spark,
    path: str,
    left: DataFrame | None = None,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
) -> DataFrame:
    """:func:`_ngram_pair_counts` with the stored artifact of
    :func:`build_shingle_index` as a source: its self-join (no ``left``)
    or ``left`` probe documents against it. Format v2 applies the
    doc-freq cap HERE (postings are stored uncapped so refresh stays
    append-sound): the precomputed over-cap table broadcasts into
    anti-joins on both sides — never a corpus-wide doc-freq aggregate on
    the serve path — and stored uncapped sizes are corrected by
    :func:`_hot_cap`. Probe documents are shingled under the SIDECAR's
    frozen geometry, so both sides always cut alike. Legacy v1 artifacts
    (pre-capped postings + capped sizes) serve the self-join on the
    stored tables as they are; cross-corpus serving needs v2."""
    import os as _os

    meta = read_shingle_index_meta(path)  # fail loud on a half-built artifact
    if left is not None and meta.get("version", 1) < 2:
        raise ValueError(
            "legacy (v1) shingle-index artifact: cross-corpus serving "
            "needs the uncapped v2 tables — rebuild with "
            "build_shingle_index"
        )
    hot = corr = None
    if meta.get("version", 1) >= 2 and meta.get("hot_dir"):
        hot = read_parquet(spark, _os.path.join(path, meta["hot_dir"]))
        if meta.get("corr_dir"):
            # precomputed at the watermark flip (_write_shingle_hot) —
            # no postings-wide aggregation on the serve path
            corr = read_parquet(spark, _os.path.join(path, meta["corr_dir"]))
    index_side = _hot_cap(
        read_parquet(spark, _os.path.join(path, "postings")),
        hot,
        read_parquet(spark, _os.path.join(path, "sizes")),
        corr,
    )
    if left is None:
        return _ngram_pair_counts(index_side)
    tcol = text_col or meta["text_col"]
    lsh = (
        ensure_parallelism(left)
        .select(
            F.col(left_id_col).alias("id"),
            _shingle_expr(tcol, meta["n"], meta["unit"]).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        # two-consumer frame: the postings explode and the size column
        .localCheckpoint(eager=False)
    )
    probe_side = _hot_cap(
        lsh.select("id", F.explode("shingles").alias("g")),
        hot,
        lsh.select("id", F.size("shingles").alias("sz")),
    )
    return _ngram_pair_counts(probe_side, index_side)


def ngram_jaccard_pairs_indexed(
    spark, path: str, threshold: float = 0.5
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` served from the at-rest artifact of
    :func:`build_shingle_index` — value-identical to the from-text
    operator over the built corpus with the built parameters (the cap
    uses the same doc frequencies; intersection counts and kept-set
    sizes are pure integer arithmetic either way). The call pays only
    the pair stage: inverted self-join on the stored postings, one count
    aggregate per pair, two broadcast-sized size joins — the pair kernel
    :func:`_ngram_pair_counts` fed by :func:`_ngram_index_counts`.
    Output ``(id_a < id_b, jaccard)``, same as the fresh operator."""
    return _ngram_jaccard(_ngram_index_counts(spark, path), threshold, _SELF_IDS)


def ngram_containment_pairs_indexed(
    spark, path: str, threshold: float = 0.8
) -> DataFrame:
    """:func:`ngram_containment_pairs` served from the SAME at-rest
    artifact as :func:`ngram_jaccard_pairs_indexed` (one build feeds both
    scorers — resemblance and containment are projections over the same
    (inter, sz_a, sz_b) counts, Broder 1997): pair stage only, value-
    identical to the from-text operator over the built corpus. Kernel:
    :func:`_ngram_pair_counts`."""
    return _ngram_containment(
        _ngram_index_counts(spark, path), threshold, _SELF_IDS
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    unit: str = "char",
) -> DataFrame:
    """Pairs where one document's distinct ``n``-gram set is mostly
    CONTAINED in the other's: Broder's containment ``c(A,B) =
    |A∩B| / |A|`` (Broder 1997, "resemblance and containment") — the
    asymmetric overlap Jaccard structurally under-weights. A short quote
    embedded in a long article has tiny Jaccard (the union is
    article-sized) but containment ≈ 1; this is the detector for
    subset/quote/expanded-revision relations, the complement of
    :func:`ngram_jaccard_pairs`' same-size near-dup detector.

    Output: ``(id_a < id_b, containment_a_in_b, containment_b_in_a)``
    filtered to ``greatest(both) >= threshold`` — both directions
    reported so the caller knows WHICH side is the subset (the kept doc
    in a salvage pipeline is usually the superset).

    Same single-inverted-index plan, heavy-hitter cap, and checkpoint
    discipline as the Jaccard scorer (shared pair kernel
    :func:`_ngram_pair_counts`); with a cap the semantics become
    containment over kept shingles, with sizes recomputed over the same
    kept sets."""
    return _ngram_containment(
        _ngram_text_counts(df, id_col, text_col, n, max_doc_freq, unit),
        threshold, _SELF_IDS,
    )


def ngram_jaccard_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    unit: str = "char",
) -> DataFrame:
    """CROSS-corpus n-gram Jaccard pairs ``(left_id, right_id,
    jaccard)`` — the deterministic decontamination screen next to the
    probabilistic :func:`minhash_near_dups_between` (same contract, no
    sampling: Jaccard is computed from distinct-shingle intersection
    counts rather than estimated from signatures). Kernel:
    :func:`_ngram_pair_counts`, strictly across corpora.

    Exactness bound: both sides join on ``xxhash64(shingle)``, so two
    different shingles whose 64-bit hashes collide count as shared. By
    the birthday bound n²/2⁶⁵ that is about 2.7×10⁴ colliding shingle
    pairs at 10¹² distinct shingles (the 100 TB design point), each
    able to raise only the intersection counts of the documents that
    hold them; at 10⁶ shingles the expectation is ~3×10⁻⁸, so at
    fixture scale the values match the oracle exactly.

    ``max_doc_freq`` caps on the RIGHT (reference) corpus's doc
    frequencies — see :func:`_ngram_text_counts`. The
    recurring regime serves the same values from a standing reference
    artifact via :func:`ngram_jaccard_against_index`."""
    return _ngram_jaccard(
        _ngram_text_counts(
            left, left_id_col, text_col, n, max_doc_freq, unit,
            right, right_id_col,
        ),
        threshold, _CROSS_IDS,
    )


def ngram_jaccard_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`ngram_jaccard_between` with the RIGHT side served from the
    at-rest artifact of :func:`build_shingle_index` — value-identical to
    the from-text cross call over the built reference with the built
    parameters (``n``/``unit``/``max_doc_freq`` all come from the
    sidecar; intersection and kept-set sizes are pure integer arithmetic
    either way). The call pays only the probe side's shingling plus the
    cross inverted join (kernel :func:`_ngram_pair_counts`) — the
    reference's postings, sizes, and hot table read straight off
    parquet, which is the whole economics of the recurring screen
    (reference O8 family, ``db/db.go:176-207``)."""
    return _ngram_jaccard(
        _ngram_index_counts(spark, path, left, left_id_col, text_col),
        threshold, _CROSS_IDS,
    )


def ngram_containment_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    unit: str = "char",
) -> DataFrame:
    """CROSS-corpus Broder containment pairs ``(left_id, right_id,
    containment_l_in_r, containment_r_in_l)`` — the subset/quote
    detector across corpora: an eval prompt quoted inside a long crawl
    document has tiny cross-Jaccard (union is document-sized) but
    containment ≈ 1, which is exactly the decontamination case
    :func:`ngram_jaccard_between` structurally under-weights. Same
    pair kernel (:func:`_ngram_pair_counts`: one cross inverted join,
    reference-side doc-freq cap), both directions reported so the caller
    knows which side is the subset."""
    return _ngram_containment(
        _ngram_text_counts(
            left, left_id_col, text_col, n, max_doc_freq, unit,
            right, right_id_col,
        ),
        threshold, _CROSS_IDS,
    )


def ngram_containment_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """:func:`ngram_containment_between` served from the SAME at-rest
    artifact as :func:`ngram_jaccard_against_index` — one build feeds
    both cross-corpus scorers (resemblance and containment are
    projections over the same ``(inter, sz_a, sz_b)`` counts, Broder
    1997), exactly as the self-join family shares its artifact. Kernel:
    :func:`_ngram_pair_counts`."""
    return _ngram_containment(
        _ngram_index_counts(spark, path, left, left_id_col, text_col),
        threshold, _CROSS_IDS,
    )


# ---------------------------------------------------------------------------
# edit-distance similarity join (PassJoin-style segment blocking)
# ---------------------------------------------------------------------------
def _fuzzy_key(text_col: str, key_len: int) -> Column:
    """Normalized fixed-width comparison key: lowercase, whitespace runs
    collapsed to one space, trimmed, truncated to ``key_len`` and
    space-padded back to exactly ``key_len`` chars. Fixed width is what
    keeps the segment positions compile-time literals (and the SQL replay
    trivial); the padding is part of the declared distance semantics."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return F.rpad(F.substring(norm, 1, key_len), key_len, " ")


def _fuzzy_bounds(key_len: int, max_edits: int) -> list[tuple[int, int]]:
    """(start0, length) of the ``max_edits+1`` near-even segments."""
    n = max_edits + 1
    base, rem = divmod(key_len, n)
    bounds, p = [], 0
    for i in range(n):
        l = base + (1 if i < rem else 0)
        bounds.append((p, l))
        p += l
    return bounds


def fuzzy_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edits: int = 2,
    key_len: int = 32,
    max_key_df: int | None = None,
) -> DataFrame:
    """Edit-distance similarity join: pairs ``(id_a < id_b,
    edit_distance)`` whose normalized ``key_len``-char prefix keys are
    within ``max_edits`` Levenshtein edits — the entity-resolution /
    typo-variant near-dup family (OCR noise, mojibake, small in-place
    edits) that shingle Jaccard under-weights because a single-char edit
    kills ``n`` consecutive shingles.

    Candidate generation is PassJoin-style segment blocking (Li et al.
    2011, simplified to the fixed-width key): the key is cut into
    ``max_edits+1`` contiguous segments at compile-time positions; if
    ``ed(a, b) <= max_edits`` then by pigeonhole some segment of ``a``
    contains no edit, so it occurs VERBATIM in ``b`` shifted by at most
    ``max_edits`` positions. The index side emits its ``k+1`` segments,
    the probe side its in-range shifted substrings (``<= (k+1)(2k+1)``
    keys/row, 11 at the k=2/len=32 default); the equi-join on
    ``(segment_index, segment_text)`` is COMPLETE — every qualifying pair
    is a candidate — and ``levenshtein() <= max_edits`` verifies exactly,
    so the result equals the brute-force quadratic (which is exactly what
    the oracle runs).

    ``max_key_df`` (None = complete) drops segment keys occurring on more
    than that many probe rows via a broadcast anti-join — the same
    heavy-hitter escape hatch as ``ngram_jaccard_pairs(max_doc_freq=)``,
    for corpora with degenerate shared prefixes (boilerplate headers);
    pairs matching ONLY through a capped key are then missed, which the
    default refuses to do silently.

    Blank documents (nothing but whitespace) are excluded: their keys are
    all padding, every blank doc is distance 0 from every other, and the
    resulting clique is noise, not signal.

    Scale shape (100 TB): two narrow literal-position explodes (no
    per-row state), one high-cardinality equi-join on (i, 10-char
    segment) — the same banded-candidates discipline as MinHash/sign-LSH
    (buckets stay small because segment keys are near-unique; skew is
    capped by ``max_key_df``), verify computed inside the join projection
    on exactly the candidate pairs, one distinct. No all-pairs stage,
    nothing collected.
    """
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1 (0 is exact_dedup)")
    keyed = _fuzzy_keyed(df, id_col, text_col, key_len)
    return _fuzzy_pairs(
        keyed, keyed, key_len, max_edits, max_key_df, same_corpus=True
    )


def _fuzzy_keyed(
    df: DataFrame, id_col: str, text_col: str, key_len: int
) -> DataFrame:
    """Normalized fixed-width ``(id, key)`` frame — blank docs excluded
    (all-padding keys pair with everything), checkpointed because both
    the segment and probe explodes read it."""
    return (
        ensure_parallelism(df)
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("id"),
            _fuzzy_key(text_col, key_len).alias("key"),
        )
        # two-consumer frame in the self-join: segment and probe explodes
        .localCheckpoint(eager=False)
    )


def _fuzzy_pairs(
    index_keyed: DataFrame,
    probe_keyed: DataFrame,
    key_len: int,
    max_edits: int,
    max_key_df: int | None,
    same_corpus: bool,
) -> DataFrame:
    """Shared PassJoin core for the self-join and cross-corpus variants
    (one body, per the r11 advice: the DuckDB oracles mirror this
    expression-for-expression, so two forks were a divergence hazard):
    segment explode on the index side, shifted-substring explode on the
    probe side, complete ``(i, seg)`` equi-join, optional heavy-hitter
    cap, exact ``levenshtein`` verify. Output ``(id_a, id_b,
    edit_distance)``; ``same_corpus`` adds the ``a.id < b.id``
    canonicalization."""
    if key_len < (max_edits + 1) * 2:
        raise ValueError(
            f"key_len {key_len} too small for {max_edits + 1} segments"
        )
    bounds = _fuzzy_bounds(key_len, max_edits)
    idx = _fuzzy_segment_rows(index_keyed, bounds)
    probe = _fuzzy_probe_rows(probe_keyed, bounds, key_len, max_edits)
    return _fuzzy_join_verify(idx, probe, max_edits, max_key_df, same_corpus)


def _fuzzy_segment_rows(
    index_keyed: DataFrame, bounds: list[tuple[int, int]]
) -> DataFrame:
    """The INDEX side's ``(id, key, i, seg)`` rows — the ``k+1``
    compile-time-position segments per key, the key riding along for the
    in-join verify. ONE body shared by the per-call operators AND
    :func:`build_fuzzy_index` (the ``_signlsh_inverted`` shared-body
    rule: build and serve can never segment differently)."""
    return index_keyed.select(
        "id",
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.substring("key", p + 1, l).alias("seg"),
                    )
                    for i, (p, l) in enumerate(bounds)
                ]
            )
        ).alias("s"),
    ).select("id", "key", F.col("s.i").alias("i"), F.col("s.seg").alias("seg"))


def _fuzzy_probe_rows(
    probe_keyed: DataFrame,
    bounds: list[tuple[int, int]],
    key_len: int,
    max_edits: int,
) -> DataFrame:
    """The PROBE side's shifted-substring rows (``<= (k+1)(2k+1)`` per
    key, boundary-clipped) — shared by the per-call operators and
    :func:`fuzzy_dups_against_index`."""
    probe_cols = []
    for i, (p, l) in enumerate(bounds):
        for s in range(-max_edits, max_edits + 1):
            start = p + s
            if start < 0 or start + l > key_len:
                continue
            probe_cols.append(
                F.struct(
                    F.lit(i).alias("i"),
                    F.substring("key", start + 1, l).alias("seg"),
                )
            )
    return probe_keyed.select(
        "id", "key", F.explode(F.array(*probe_cols)).alias("s")
    ).select("id", "key", F.col("s.i").alias("i"), F.col("s.seg").alias("seg"))


def _fuzzy_join_verify(
    idx: DataFrame,
    probe: DataFrame,
    max_edits: int,
    max_key_df: int | None,
    same_corpus: bool,
) -> DataFrame:
    """Complete ``(i, seg)`` equi-join + exact ``levenshtein`` verify —
    the tail of the PassJoin core, shared so the at-rest serving path
    joins and verifies identically to the from-text operators."""
    if max_key_df is not None:
        hot = (
            probe.groupBy("i", "seg")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > int(max_key_df))
            .select("i", "seg")
        )
        idx = idx.join(F.broadcast(hot), ["i", "seg"], "left_anti")
        probe = probe.join(F.broadcast(hot), ["i", "seg"], "left_anti")
    j = idx.alias("a").join(probe.alias("b"), ["i", "seg"])
    if same_corpus:
        j = j.filter(F.col("a.id") < F.col("b.id"))
    return (
        j.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.key").alias("__ka"),
            F.col("b.key").alias("__kb"),
        )
        .distinct()
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("__ka"), F.col("__kb")).cast("long"),
        )
        .filter(F.col("edit_distance") <= max_edits)
        .select("id_a", "id_b", "edit_distance")
    )


def build_fuzzy_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edits: int = 2,
    key_len: int = 32,
) -> dict:
    """Materialize the REFERENCE side of cross-corpus edit-distance
    screening at ``path`` — the at-rest artifact for the LAST
    recurring-decontamination family without one (r15 verdict #5: every
    other recurring screen — MinHash, sign-LSH, shingle — serves from a
    standing index; ``fuzzy_dups_between`` re-derived the reference's
    segment keys per call). Writes

    ``<path>/segments/``  (id, key, i, seg) — the reference's PassJoin
                          segment rows, key riding along for the in-join
                          ``levenshtein`` verify (the sign-LSH
                          vector-carrying layout), and
    ``<path>/fuzzy_index.json``  the frozen (max_edits, key_len) — the
                          probe side derives its shifted substrings from
                          these, so both sides always cut alike.

    :func:`fuzzy_dups_against_index` is then value-identical to
    :func:`fuzzy_near_dups_between` with the reference as the index side
    (same shared segment/probe/verify bodies). Growable: every stored
    row derives from its document alone under the frozen geometry, so
    :func:`refresh_fuzzy_index` appends the tail — reference O8
    catch-up (``updateIndexFromLastId``, ``db/db.go:191-207``) for the
    edit-distance artifact."""
    import os as _os

    if max_edits < 1:
        raise ValueError("max_edits must be >= 1 (0 is exact matching)")
    if key_len < (max_edits + 1) * 2:
        raise ValueError(
            f"key_len {key_len} too small for {max_edits + 1} segments"
        )
    bounds = _fuzzy_bounds(key_len, max_edits)
    _fuzzy_segment_rows(
        _fuzzy_keyed(df, id_col, text_col, key_len), bounds
    ).write.mode("overwrite").parquet(_os.path.join(path, "segments"))
    meta = {
        "id_col": id_col,
        "text_col": text_col,
        "max_edits": int(max_edits),
        "key_len": int(key_len),
        "max_id": json_id(df.agg(F.max(F.col(id_col))).collect()[0][0]),
    }
    write_sidecar(_os.path.join(path, "fuzzy_index.json"), meta)
    return meta


def refresh_fuzzy_index(
    df: DataFrame,
    path: str,
    advance_to=None,
    *,
    batch=None,
) -> dict:
    """Catch-up for the at-rest fuzzy (PassJoin) reference index — the
    edit-distance member of the engine-wide O8 rule
    (``updateIndexFromLastId``, ``db/db.go:191-207``): documents with
    ``id > meta.max_id`` are keyed and segmented through the
    SIDECAR-frozen geometry (the same :func:`_fuzzy_segment_rows` body
    the build uses) and appended — row-identical to a from-scratch build
    over the union. Single-table artifact, so one crash window: a replay
    anti-joins the tail against ids already above the watermark
    (id-column-only, predicate-pushed scan of the index). Blank docs are
    excluded by :func:`_fuzzy_keyed` exactly as at build, but still
    advance the watermark (``max_id`` covers the full batch — the
    minhash-index discipline). ``advance_to`` floors the flip for
    screen-and-drop callers. ``batch`` is the id range an insert just
    wrote (:func:`~kaer_spark.operators.util.open_refresh`)."""
    import os as _os

    meta = read_fuzzy_index_meta(path)
    icol = meta["id_col"]
    seg_dir = _os.path.join(path, "segments")
    _, tail, new_max, guard = open_refresh(
        df, path, "fuzzy_index.json", meta, seg_dir, "id", advance_to, batch
    )
    if new_max is None:
        return meta
    tail = guard(tail, icol, seg_dir, "id")
    bounds = _fuzzy_bounds(meta["key_len"], meta["max_edits"])
    _fuzzy_segment_rows(
        _fuzzy_keyed(tail, icol, meta["text_col"], meta["key_len"]), bounds
    ).write.mode("append").parquet(seg_dir)
    return flip_watermark(path, "fuzzy_index.json", meta, new_max, advance_to)


def read_fuzzy_index_meta(path: str) -> dict:
    import os as _os

    return read_sidecar(_os.path.join(path, "fuzzy_index.json"))


def fuzzy_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Health report for the at-rest fuzzy (PassJoin) reference index —
    the seventh and last at-rest family gets its stats twin in the same
    round it gets its artifact, so the observability sweep never
    re-opens: one summary row from the segments table alone —

    * ``n_docs`` / ``n_seg_rows`` — indexed documents and stored segment
      rows (``n_docs × (max_edits+1)`` when healthy; drift is a
      crash-replay bug);
    * ``n_buckets`` / ``max_bucket`` / ``bucket_skew`` /
      ``p50_bucket_sz`` / ``p90_bucket_sz`` — the ``(i, seg)`` blocking-
      key histogram: shared prefixes (boilerplate headers — the
      ``max_key_df`` escape hatch's reason to exist) collapse docs onto
      hot segment keys, and a hot key is a skewed join partition AND a
      candidate-pair blowup, visible here before it's visible as probe
      latency;
    * ``max_edits`` / ``key_len`` — sidecar geometry echo;
    * ``watermark`` (+ ``watermark_lag`` / ``is_stale`` with ``corpus``,
      typed by the id domain).

    REBUILD/REFRESH TRIGGER (documented policy): refresh per ingest
    (:func:`refresh_fuzzy_index` is tail-bound). Persistent
    ``bucket_skew`` growth means degenerate shared prefixes — screen
    boilerplate upstream or serve with ``max_key_df`` (which this report
    sizes: the over-cap keys are exactly the ``bc > max_key_df``
    buckets).

    Scale note: bucket quantiles rank one row per distinct blocking key
    via two-level rank selection (``util.global_ranked`` — bit-exact,
    no single-reducer sort); doc counts aggregate."""
    import os as _os

    meta = read_fuzzy_index_meta(path)
    seg = read_parquet(spark, _os.path.join(path, "segments"))
    buckets = (
        seg.groupBy("i", "seg")
        .agg(F.count("*").alias("bc"))
        # three-consumer frame: the aggregate, the rank sample and its shuffle
        .localCheckpoint(eager=False)
    )
    bstats = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.sum("bc").cast("long").alias("n_seg_rows"),
        F.max("bc").cast("long").alias("max_bucket"),
    )
    sel_b = ranked_quantiles(
        buckets, ["bc", "i", "seg"], bstats, "n_buckets",
        "p50_bucket_sz", "p90_bucket_sz",
    )
    ndocs = seg.filter(F.col("i") == 0).agg(
        F.count("*").alias("n_docs")
    )
    out = (
        ndocs.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(sel_b))
        .withColumn(
            "bucket_skew",
            (F.col("max_bucket") * F.col("n_buckets")).cast("double")
            / F.col("n_seg_rows"),
        )
        .withColumn("max_edits", F.lit(int(meta["max_edits"])).cast("long"))
        .withColumn("key_len", F.lit(int(meta["key_len"])).cast("long"))
    )
    return watermark_health_cols(
        out, meta.get("max_id"), corpus, corpus_id_col or meta["id_col"]
    )


def fuzzy_dups_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    max_key_df: int | None = None,
) -> DataFrame:
    """:func:`fuzzy_near_dups_between` with the INDEX side served from
    the at-rest artifact of :func:`build_fuzzy_index` — value-identical
    to the from-text cross call with the built reference as the
    segmented side (geometry from the sidecar, segment/probe/verify
    bodies shared, so the two paths cannot cut or verify differently —
    kernel :func:`_fuzzy_join_verify`, cross form).
    Returns ``(left_id, right_id, edit_distance)`` with ``left`` as the
    probe/query corpus and the stored reference on the right; the call
    pays only the probe side's keying + shifted-substring explode plus
    the segment equi-join — the reference's segment rows read straight
    off parquet."""
    import os as _os

    meta = read_fuzzy_index_meta(path)
    tcol = text_col or meta["text_col"]
    bounds = _fuzzy_bounds(meta["key_len"], meta["max_edits"])
    idx = read_parquet(spark, _os.path.join(path, "segments"))
    probe = _fuzzy_probe_rows(
        _fuzzy_keyed(left, left_id_col, tcol, meta["key_len"]),
        bounds, meta["key_len"], meta["max_edits"],
    )
    return _fuzzy_join_verify(
        idx, probe, meta["max_edits"], max_key_df, same_corpus=False
    ).select(
        F.col("id_b").alias("left_id"),
        F.col("id_a").alias("right_id"),
        "edit_distance",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 16,
    seed: int = 42,
    unit: str = "char",
) -> DataFrame:
    """(id, sig array<long>, shingles) — MinHash over distinct n-grams.

    Each signature slot j is ``min over shingles of (a_j·fp + b_j) mod P``
    where fp is the polynomial shingle hash. All arithmetic stays below
    2^60 (a, fp < 2^30), so int64-exact — and exactly reproducible in SQL.

    The char-unit hot path never materializes shingle STRINGS for the
    signature: :func:`~kaer_spark.functions.fphash.minhash_sig_col`
    hashes every window of a row in one Arrow batch and takes each slot's
    minimum over the distinct window hashes, which is exactly the
    distinct-shingle definition. ``shingles`` remains in the output as an
    independent column, so consumers that select only ``(id, sig)`` prune
    the string work away entirely."""
    coeffs = minhash_coeffs(num_hashes, seed)
    if unit == "char":
        N = int(n)
        base = ensure_parallelism(df.filter(_signed(text_col, N, unit)))
        sig = minhash_sig_col(text_col, N, coeffs, HASH_BASE, HASH_MOD)
        return base.select(
            F.col(id_col).alias("id"),
            _shingle_expr(text_col, n, unit).alias("shingles"),
            sig.alias("sig"),
        )
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), _shingle_expr(text_col, n, unit).alias("shingles")
    ).filter(F.size("shingles") > 0)
    fps = F.transform(F.col("shingles"), _poly_hash)

    def slot(a: int, b: int):
        return F.array_min(F.transform(fps, lambda f: (f * a + b) % HASH_MOD))

    sig = F.array(*[slot(a, b) for a, b in coeffs])
    return sh.withColumn("sig", sig)


def _signed(text_col: str, n: int, unit: str) -> Column:
    """The rows :func:`minhash_signatures` signs: those with at least one
    shingle (``length >= n`` is the char-unit form of that test)."""
    if unit == "char":
        return F.length(text_col) >= int(n)
    return F.size(_shingle_expr(text_col, n, unit)) > 0


def _minhash_docs(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str
) -> DataFrame:
    """``(id, text)`` of the rows :func:`minhash_signatures` signs — the
    stored index's ``docs/`` table, the exact verify's text side."""
    return df.filter(_signed(text_col, n, unit)).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    unit: str = "char",
    presigned: DataFrame | None = None,
) -> DataFrame:
    """LSH-banded MinHash near-dup pairs, verified by exact Jaccard.

    Candidates: pairs agreeing on at least one band (rows/band =
    num_hashes/bands). Verification computes true Jaccard on the distinct
    shingle sets, so the output is exact *given* the candidate set —
    identical to what the oracle computes with the same banding. Kernel:
    :func:`_minhash_probe`, self-join form.

    ``presigned`` (internal fast path — the streaming ingest batch body):
    a ``(id, sig, shingles)`` DataFrame already computed by
    :func:`minhash_signatures` under THE SAME ``(n, num_hashes, seed,
    unit)`` for exactly ``df``'s rows, ideally checkpointed by the
    caller. The caller owns that consistency — nothing here can detect a
    drifted signature. Skips the signature AND shingle recomputation
    (the batch chain otherwise signs the same documents three times:
    screen, self-dedup, refresh).
    """
    side = _minhash_side(
        df, id_col, text_col, n, num_hashes, bands, seed, unit, presigned
    )
    return _minhash_probe(side, threshold)


def _minhash_sigs(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int,
    seed: int, unit: str,
) -> DataFrame:
    """``(id, sig)`` signatures of a corpus side WITHOUT the shingle
    column: banding needs only the signature, so the corpus-wide
    shingle-string arrays are pruned out of the plan entirely; exact
    verification recomputes shingles only for candidate docs."""
    return (
        minhash_signatures(df, id_col, text_col, n, num_hashes, seed, unit)
        .select("id", "sig")
        # two-consumer frame in the self-join (both band-join sides) and a
        # lineage cut before the band explode in the cross forms
        .localCheckpoint(eager=False)
    )


def _minhash_side(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    unit: str,
    presigned: DataFrame | None = None,
):
    """A corpus as a :func:`_minhash_probe` source: its ``(id, band,
    key)`` rows and its shingle source. ``presigned`` (see
    :func:`minhash_near_dups`) supplies both from the caller's one
    signature pass."""
    if presigned is not None:
        return _minhash_banded(
            presigned.select("id", "sig"), bands, num_hashes // bands
        ), lambda ids, name, sh: presigned.select(
            F.col("id").alias(name), F.col("shingles").alias(sh)
        ).join(ids.distinct(), name, "left_semi")
    sigs = _minhash_sigs(df, id_col, text_col, n, num_hashes, seed, unit)

    def shingles(ids: DataFrame, name: str, sh: str) -> DataFrame:
        # ensure_parallelism (r17 item 12): without it the candidate
        # re-shingling runs ON the raw scan — one task for a single-split
        # bench/test input (measured 2.3s serialized in
        # dedup_cluster_build's profile) — while the signature pass was
        # already widened. No-op on many-split production scans.
        return (
            ensure_parallelism(df)
            .select(
                F.col(id_col).alias(name),
                _shingle_expr(text_col, n, unit).alias(sh),
            )
            .join(ids.distinct(), name, "left_semi")
        )

    return _minhash_banded(sigs, bands, num_hashes // bands), shingles


def _minhash_text_source(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str
):
    """The shingle source over a frame holding the text (a corpus, or the
    stored ``docs/`` table): the candidate ids are semi-joined first, so
    only their rows are re-shingled."""

    def shingles(ids: DataFrame, name: str, sh: str) -> DataFrame:
        # [r18, ADVICE] The candidate semi-join prunes BEFORE the
        # widening exchange (r17 item 12), so only surviving rows (not
        # the whole corpus text) ride the round-robin repartition.
        bound = ids.select(F.col(name).alias(id_col)).distinct()
        return ensure_parallelism(
            df.join(bound, [id_col], "left_semi")
        ).select(
            F.col(id_col).alias(name),
            _shingle_expr(text_col, n, unit).alias(sh),
        )

    return shingles


def _minhash_probe(left, threshold: float, right=None) -> DataFrame:
    """The one MinHash kernel: band equi-join → distinct candidates →
    shingles semi-joined to the candidate ids → exact Jaccard. Each side
    is a ``(bands, shingles)`` source (:func:`_minhash_side`, or the
    stored tables of :func:`build_minhash_index`): ``(id, band, key)``
    rows, and a function ``(ids, name, sh)`` that returns the ``(name,
    sh)`` shingle rows of the distinct ids in the one-column frame
    ``ids`` (named ``name``). With no ``right`` it is the self-join:
    the ``a.id < b.id`` rule, one candidate-id set and ONE shingle frame
    feeding both verify sides → ``(id_a, id_b, jaccard)``. With one, the
    join is strictly left × right, each side's shingles bounded to its
    own candidate ids → ``(left_id, right_id, jaccard)``."""
    lb, lsh = left
    rb, rsh = left if right is None else right
    ia, ib = _SELF_IDS if right is None else _CROSS_IDS
    j = lb.alias("a").join(rb.alias("b"), on=["band", "key"])
    if right is None:
        j = j.filter(F.col("a.id") < F.col("b.id"))
    cand = (
        j.select(F.col("a.id").alias(ia), F.col("b.id").alias(ib))
        .distinct()
        # two-consumer frame: the candidate-id projections and the verify
        .localCheckpoint(eager=False)
    )
    if right is None:
        ids = cand.select(F.col(ia).alias("id")).union(
            cand.select(F.col(ib).alias("id"))
        )
        # two-consumer frame: both verify sides read it
        sh = lsh(ids, "id", "shingles").localCheckpoint(eager=False)
        sh_a = sh.select(F.col("id").alias(ia), F.col("shingles").alias("sh_a"))
        sh_b = sh.select(F.col("id").alias(ib), F.col("shingles").alias("sh_b"))
    else:
        sh_a = lsh(cand.select(ia), ia, "sh_a")
        sh_b = rsh(cand.select(ib), ib, "sh_b")
    return (
        cand.join(sh_a, ia)
        .join(sh_b, ib)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(ia, ib, "jaccard")
    )


def _minhash_banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key) — the signature's LSH band keys, one row per band.

    One parsed expression (sameSemantics-identical to the per-band
    struct builder — see the signature-slot note in
    :func:`minhash_signatures`): the builder form cost ~0.18s of py4j
    round-trips per call."""
    parts = ",".join(
        "named_struct('band', {b}, 'key', concat_ws(',', {cols}))".format(
            b=bi,
            cols=",".join(
                f"CAST(sig[{bi * rows_per_band + r}] AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return sigs.select(
        "id", F.explode(cached_expr(f"array({parts})")).alias("bk")
    ).select("id", "bk.band", "bk.key")


def minhash_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    sample_permille: int = 1000,
    unit: str = "char",
) -> DataFrame:
    """Measured banding recall: how many TRUE near-dup pairs does the
    MinHash-LSH candidate generation find? → one row ``(n_truth,
    n_found, n_missed, recall)``.

    "Measure, don't guess": banding recall is the probabilistic knob of
    the whole MinHash family (P[candidate] = 1-(1-j^r)^b), and the way
    production dedup validates its band/row settings is exactly this —
    compare against exact Jaccard ground truth on a SAMPLE
    (``sample_permille`` via the engine's deterministic LCG
    :func:`~kaer_spark.operators.sampling.hash_sample`), because
    uncapped exact truth is quadratic in shingle document-frequency and
    only affordable on a bounded subset. At full ``sample_permille=1000``
    the report is exact, for test corpora.

    Invariant that makes this one aggregate instead of a pair join:
    :func:`minhash_near_dups` verifies candidates by exact Jaccard over
    the SAME shingle definition, so its output is a subset of the truth
    set — recall = n_found / n_truth directly (pinned by the unit
    tests). ``recall`` is NULL when the sample holds no true pairs.
    """
    from kaer_spark.operators.sampling import hash_sample

    sample = (
        hash_sample(df, id_col=id_col, rate_permille=sample_permille)
        if sample_permille < 1000
        else df
    )
    truth = ngram_jaccard_pairs(
        sample, id_col=id_col, text_col=text_col, n=n,
        threshold=threshold, max_doc_freq=None, unit=unit,
    )
    found = minhash_near_dups(
        sample, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        seed=seed, unit=unit,
    )
    tagged = truth.select(F.lit(1).alias("is_truth")).unionByName(
        found.select(F.lit(0).alias("is_truth"))
    )
    return tagged.agg(
        F.coalesce(F.sum("is_truth"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.lit(1) - F.col("is_truth")), F.lit(0))
        .cast("long")
        .alias("n_found"),
    ).select(
        "n_truth",
        "n_found",
        (F.col("n_truth") - F.col("n_found")).alias("n_missed"),
        F.when(
            F.col("n_truth") > 0,
            F.col("n_found").cast("double") / F.col("n_truth"),
        ).alias("recall"),
    )


def minhash_near_dups_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    unit: str = "char",
) -> DataFrame:
    """CROSS-corpus near-dup pairs: ``(left_id, right_id, jaccard)`` for
    documents of ``left`` near-duplicating documents of ``right``.

    The incremental-corpus shape self-join dedup can't express: dedup a
    new crawl against the existing training set, or quarantine documents
    overlapping an evaluation corpus at the near-dup (not exact-n-gram)
    level — ``operators.contamination`` catches verbatim collisions, this
    catches paraphrase-light copies. Same banding/verification math as
    :func:`minhash_near_dups` with identical seeds on both sides, so a
    doc and its copy collide regardless of which corpus holds them; the
    band join is left-corpus × right-corpus only (no within-corpus
    pairs), shuffle O((|L|+|R|) × bands) plus collisions. Kernel:
    :func:`_minhash_probe`, cross form.
    """

    def side(df: DataFrame, id_col: str):
        sigs = _minhash_sigs(df, id_col, text_col, n, num_hashes, seed, unit)
        return _minhash_banded(
            sigs, bands, num_hashes // bands
        ), _minhash_text_source(df, id_col, text_col, n, unit)

    return _minhash_probe(
        side(left, left_id_col), threshold, side(right, right_id_col)
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
    unit: str = "char",
) -> dict:
    """Materialize the REFERENCE side of cross-corpus near-dup screening
    at ``path`` — the at-rest artifact for the canonical RECURRING
    decontamination regime: every new crawl / training batch screens
    against the SAME fixed reference corpus (eval benchmarks, the
    existing training set), yet :func:`minhash_near_dups_between`
    recomputes the reference's signatures and band keys on every call.
    Build once writes

    ``<path>/bands/``  (id, band, key) — the reference's LSH band keys,
    ``<path>/docs/``   (id, text) — the text of every signed document
                       (``length(text) >= n`` for char shingles, at least
                       one word shingle for word shingles): the exact
                       verify re-shingles only the candidate ids from it,
                       so the artifact is self-contained (no source path)
                       and stores no shingle arrays, and
    ``<path>/minhash_index.json``  the frozen (n, num_hashes, bands,
                       seed, unit) — the query side derives ITS keys
                       from these, so both sides always hash alike.

    Bands are written from ``(id, sig)`` alone and ``docs/`` straight
    from ``df``, so the corpus-wide shingle strings are never built. A
    rebuild over an artifact of the older ``shingles/`` layout (which
    :func:`read_minhash_index_meta` refuses) removes that table once the
    new ``docs/`` has landed.

    :func:`minhash_near_dups_against_index` /
    :func:`dedup_against_index` then pay only the query side's signature
    pass, the band join, and the candidates' re-shingling —
    value-identical to the from-text cross call by construction (same
    seeded math, same banding, same exact Jaccard verify). Growable
    reference sets: band keys are per-doc independent (no corpus-global
    state, unlike the shingle index's doc-freq cap), so
    :func:`refresh_minhash_index` appends new docs' rows under the frozen
    hashing — reference O8 catch-up (``updateIndexFromLastId``,
    ``db/db.go:191-207``) for the decontamination artifact."""
    import os as _os
    import shutil

    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed, unit)
    _minhash_banded(
        sig.select("id", "sig"), bands, num_hashes // bands
    ).write.mode("overwrite").parquet(_os.path.join(path, "bands"))
    _minhash_docs(df, id_col, text_col, n, unit).write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "docs"))
    shutil.rmtree(_os.path.join(path, "shingles"), ignore_errors=True)
    meta = {
        "id_col": id_col,
        "text_col": text_col,
        "n": int(n),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "seed": int(seed),
        "unit": unit,
        "max_id": json_id(df.agg(F.max(F.col(id_col))).collect()[0][0]),
    }
    write_sidecar(_os.path.join(path, "minhash_index.json"), meta)
    return meta


def refresh_minhash_index(
    df: DataFrame,
    path: str,
    advance_to=None,
    presigned: DataFrame | None = None,
    *,
    batch=None,
) -> dict:
    """Catch-up for the at-rest MinHash reference index — reference O8
    (``updateIndexFromLastId``, ``db/db.go:191-207``) applied to the
    decontamination artifact, completing the engine-wide rule that every
    standing index refreshes instead of rebuilding (IVF/text/PQ
    precedent, r13). Sound here because the artifact holds NO
    corpus-global state: every ``(id, band, key)`` and ``(id, text)``
    row derives from its document alone under the sidecar-frozen
    ``(n, num_hashes, bands, seed, unit)``, so appending the tail is
    row-identical to a from-scratch build over the union (pytest-pinned).
    The shingle index stays rebuild-only BY DESIGN — its doc-freq cap is
    corpus-global and an append would silently change which shingles are
    over the cap (see :func:`build_shingle_index`).

    Idempotent against BOTH crash windows (the ``refresh_text_index``
    discipline — bands append lands first, docs second, watermark
    last): a replay anti-joins each append against ITS OWN table's ids
    above the watermark (id-column-only, predicate-pushed scans of the
    index, not the corpus), so crash-after-bands re-appends only the
    missing docs rows and crash-after-both only flips the watermark.
    Pre-watermark artifacts (built before ``max_id`` was stamped) derive
    the watermark from the stored docs table once, then stamp it.

    ``df`` carries the tail's text under the sidecar's ``text_col`` and
    its ids under ``id_col`` — also with ``presigned``, whose signatures
    give the band keys while the ``docs/`` append takes the text from
    ``df``.

    ``advance_to`` (optional) floors the flipped watermark — for callers
    that SCREEN-and-drop (``streaming.ingest.neardup_ingest_batch``): a
    dropped doc's id is decided but never stored, and if the watermark
    only covered stored ids a replayed batch whose max id was dropped
    would look like an out-of-order arrival. The flip stays one atomic
    sidecar write covering both.

    ``batch`` (keyword-only) is the id range ``[lo, hi)`` an insert just
    wrote. With the watermark at ``lo - 1`` no ghost rows can be on disk,
    so both guards are skipped and the range gives the new watermark
    (:func:`~kaer_spark.operators.util.open_refresh`)."""
    import os as _os

    meta = read_minhash_index_meta(path)
    icol, tcol = meta["id_col"], meta["text_col"]
    bands_dir = _os.path.join(path, "bands")
    docs_dir = _os.path.join(path, "docs")
    _, tail, new_max, guard = open_refresh(
        df, path, "minhash_index.json", meta, docs_dir, "id", advance_to, batch
    )
    if new_max is None:
        return meta
    # docs whose docs row landed are fully indexed (docs write LAST in
    # both build and refresh) — drop them from the tail entirely
    tail = guard(tail, icol, docs_dir, "id")
    if presigned is not None:
        # caller-owned fast path (minhash_near_dups docstring): reuse the
        # batch's one signature pass, restricted to the guarded tail
        sig = presigned.join(
            tail.select(F.col(icol).alias("id")), "id", "left_semi"
        )
    else:
        sig = minhash_signatures(
            tail, icol, tcol, meta["n"], meta["num_hashes"], meta["seed"],
            meta["unit"],
        )
    new_bands = _minhash_banded(
        sig.select("id", "sig"), meta["bands"],
        meta["num_hashes"] // meta["bands"],
    )
    # ghost guard for the OTHER window: bands landed, docs did not —
    # those docs are still in the tail (no docs row) but their band rows
    # must not land twice
    guard(new_bands, "id", bands_dir).write.mode("append").parquet(
        bands_dir
    )
    _minhash_docs(tail, icol, tcol, meta["n"], meta["unit"]).write.mode(
        "append"
    ).parquet(docs_dir)
    return flip_watermark(
        path, "minhash_index.json", meta, new_max, advance_to
    )


def read_minhash_index_meta(path: str) -> dict:
    """The sidecar of a :func:`build_minhash_index` artifact. An artifact
    of the older layout (per-document ``shingles/`` arrays, no ``docs/``)
    raises ``ValueError``: it cannot serve this verify, so it is rebuilt,
    never read."""
    import os as _os

    if _os.path.isdir(_os.path.join(path, "shingles")) and not _os.path.isdir(
        _os.path.join(path, "docs")
    ):
        raise ValueError(
            f"MinHash index at {path!r} has the older shingles/ layout; "
            "rebuild it with build_minhash_index"
        )
    return read_sidecar(_os.path.join(path, "minhash_index.json"))


def minhash_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Health report for the at-rest MinHash reference index — closing
    the r15 observability sweep's blind spot (IVF/PQ/shingle/text had
    stats; the two decontamination-serving band indexes did not, yet
    they share the same silent-decay modes): one summary row from the
    index tables alone, answering what a recurring-decontamination
    operator asks before trusting the screen —

    * ``n_docs`` / ``n_band_rows`` — indexed documents (one ``docs/``
      row each) and stored band keys (``n_docs × num_bands`` when
      healthy; drift between the two tables is a crash-replay bug);
    * ``n_buckets`` / ``max_bucket`` / ``bucket_skew`` /
      ``p50_bucket_sz`` / ``p90_bucket_sz`` — the band-bucket histogram:
      the screen's candidate join is bucket-bounded, so a hot bucket
      (boilerplate-heavy corpora collapse many docs onto one band key)
      is a skewed join partition AND a candidate-pair blowup.
      ``bucket_skew`` = max vs the uniform design point
      (``max_bucket × n_buckets / n_band_rows``);
    * ``p50_doc_shingles`` / ``p90_doc_shingles`` / ``max_doc_shingles``
      — the exact-verify side's per-doc distinct shingle count, from
      the stored text under the sidecar's ``(n, unit)`` (rank-based
      type-1 quantiles, bit-exact replayable, like every stats operator
      here);
    * ``num_hashes`` / ``num_bands`` — sidecar geometry echo;
    * ``watermark`` (+ ``watermark_lag`` / ``is_stale`` with
      ``corpus``, typed by the id domain — see
      :func:`~kaer_spark.operators.util.watermark_health_cols`).

    REBUILD/REFRESH TRIGGER (documented policy): refresh per ingest
    (:func:`refresh_minhash_index` is tail-bound). Persistent
    ``bucket_skew`` growth means the corpus's band keys are collapsing
    (boilerplate); raise ``bands``/``num_hashes`` (a rebuild) or screen
    boilerplate upstream — the hashing itself is content-agnostic.

    Scale note: bucket quantiles rank ONE ROW PER BUCKET and doc
    quantiles ONE ROW PER DOCUMENT via two-level rank selection
    (``util.global_ranked`` — bit-exact, no single-reducer sort), never
    posting-cardinality."""
    import os as _os

    meta = read_minhash_index_meta(path)
    bands_t = read_parquet(spark, _os.path.join(path, "bands"))
    docs = read_parquet(spark, _os.path.join(path, "docs"))
    buckets = (
        bands_t.groupBy("band", "key")
        .agg(F.count("*").alias("bc"))
        # three-consumer frame: the aggregate, the rank sample and its shuffle
        .localCheckpoint(eager=False)
    )
    bstats = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.sum("bc").cast("long").alias("n_band_rows"),
        F.max("bc").cast("long").alias("max_bucket"),
    )
    sel_b = ranked_quantiles(
        buckets, ["bc", "band", "key"], bstats, "n_buckets",
        "p50_bucket_sz", "p90_bucket_sz",
    )
    # checkpoint the narrow (id, sz) frame: THREE consumers evaluate it
    # (the count/max aggregate, global_ranked's range-boundary sample,
    # and the range shuffle itself), and without the barrier each one
    # re-reads the text and re-shingles every document
    sizes = docs.select(
        "id",
        F.size(_shingle_expr("text", meta["n"], meta["unit"])).alias("sz"),
    ).localCheckpoint(eager=False)
    szstats = sizes.agg(
        F.count("*").alias("n_docs"),
        F.max("sz").cast("long").alias("max_doc_shingles"),
    )
    sel_s = ranked_quantiles(
        sizes, ["sz", "id"], szstats, "n_docs",
        "p50_doc_shingles", "p90_doc_shingles",
    )
    out = (
        szstats.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(sel_b))
        .crossJoin(F.broadcast(sel_s))
        .withColumn(
            "bucket_skew",
            (F.col("max_bucket") * F.col("n_buckets")).cast("double")
            / F.col("n_band_rows"),
        )
        .withColumn("num_hashes", F.lit(int(meta["num_hashes"])).cast("long"))
        .withColumn("num_bands", F.lit(int(meta["bands"])).cast("long"))
    )
    return watermark_health_cols(
        out, meta.get("max_id"), corpus, corpus_id_col or meta["id_col"]
    )


def minhash_near_dups_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    threshold: float = 0.5,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """:func:`minhash_near_dups_between` with the RIGHT side served from
    the at-rest artifact of :func:`build_minhash_index` — value-identical
    to the from-text cross call over the built reference (banding params
    come from the sidecar, so the query side cannot hash differently).
    Returns ``(left_id, right_id, jaccard)``. The call pays: one
    signature pass over ``left``, the band equi-join against stored keys,
    and the exact verify, re-shingling the stored text of the candidate
    ids only (semi-bounded to candidates on both sides) — kernel
    :func:`_minhash_probe`, cross form. ``presigned``: ``(id, sig,
    shingles)`` for ``left``'s rows computed under the SIDECAR's params —
    the caller-owned fast path documented on :func:`minhash_near_dups`."""
    import os as _os

    meta = read_minhash_index_meta(path)
    return _minhash_probe(
        _minhash_side(
            left, left_id_col, text_col or meta["text_col"], meta["n"],
            meta["num_hashes"], meta["bands"], meta["seed"], meta["unit"],
            presigned,
        ),
        threshold,
        (
            read_parquet(spark, _os.path.join(path, "bands")),
            _minhash_text_source(
                read_parquet(spark, _os.path.join(path, "docs")),
                "id", "text", meta["n"], meta["unit"],
            ),
        ),
    )


def dedup_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`dedup_against` served from the at-rest reference artifact:
    ``left`` minus every document near-duplicating something in the BUILT
    reference corpus — the steady-state decontamination filter a training
    pipeline runs per batch. Anti-join end to end, nothing collected.
    Kernel: :func:`_minhash_probe`, through
    :func:`minhash_near_dups_against_index`."""
    hits = (
        minhash_near_dups_against_index(
            spark, path, left, left_id_col, text_col, threshold
        )
        .select(F.col("left_id").alias(left_id_col))
        .distinct()
    )
    return left.join(hits, left_id_col, "left_anti")


def dedup_against(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """``left`` minus every document near-duplicating something in
    ``right`` — the one-call incremental-ingest filter (keep only novel
    documents of the new crawl). The matched-id set stays a DataFrame
    through the anti-join; nothing is collected to the driver."""
    hits = minhash_near_dups_between(
        left, right, left_id_col, right_id_col, text_col,
        threshold=threshold, **minhash_kwargs,
    ).select(F.col("left_id").alias(left_id_col)).distinct()
    return left.join(hits, left_id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash) — ``bits``-wide SimHash over word tokens.

    Token hash = polynomial char hash (< 2^30, so every bit test is exact
    int arithmetic). Bit b of the fingerprint is set iff the sum over all
    tokens (with multiplicity) of ±1 on that token-hash bit is > 0.
    """
    df = ensure_parallelism(df)
    # materialize the token-hash array as its own projection so the ``bits``
    # bit-vote aggregates share one evaluation (subexpression elimination
    # applies to a named column; inlined, the poly hash would run 24×)
    base = df.select(
        F.col(id_col).alias("id"), F.transform(tokens(text_col), _poly_hash).alias("_h")
    )
    fp = F.lit(0).cast("long")

    def bit_vote(b: int):
        return F.aggregate(
            F.col("_h"),
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    for b in range(bits):
        fp = fp + F.when(bit_vote(b) > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return base.select("id", fp.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    bands: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ ``max_hamming``.

    Candidates: equality on any of ``bands`` contiguous bit-bands (a pair
    within hamming ≤ bands−1 always collides on ≥1 band; wider distances
    are best-effort, the standard SimHash-dedup trade-off). Verification:
    ``bit_count(xor)``.

    Scale note: each band's key space is ``2^(bits // bands)`` — the
    default (24, 3) gives 256 buckets/band, whose within-bucket pair join
    goes quadratic on a large corpus exactly like a too-narrow sign-LSH
    band. Size ``bits ≳ bands × log2(N / target_bucket_rows)`` (e.g.
    ``bits=60, bands=3`` → 2^20 buckets/band) — same calibration rule as
    :func:`calibrate_signlsh`; ``bits ≤ 62`` keeps the fingerprint inside
    a signed int64.
    """
    if bits > 62:
        raise ValueError("bits must be <= 62 (signed int64 fingerprint)")
    band_bits = bits // bands
    sh = simhash(df, id_col, text_col, bits)
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * band_bits)
                        .bitwiseAND(F.lit(2**band_bits - 1))
                        .alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine similarity ≥ threshold.

    ``block_col`` restricts candidate pairs to equal blocking keys (label,
    LSH bucket, IVF cell …) — at scale, feed this from
    ``operators.similarity.lsh_index`` buckets; unblocked all-pairs is the
    small-data / oracle path.
    """
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    # Precompute each row's norm ONCE before the pair join — the naive form
    # recomputes both norms for every pair, tripling the quadratic-stage work.
    base = ensure_parallelism(df.select(*cols)).withColumn("nrm", vector_norm("v"))
    a, b = base.alias("a"), base.alias("b")
    on = F.col("a.id") < F.col("b.id")
    joined = a.join(b, on=(F.col("a.blk") == F.col("b.blk")) & on if block_col else on)
    denom = F.col("a.nrm") * F.col("b.nrm")
    cos = F.when(denom != 0.0, dot(F.col("a.v"), F.col("b.v")) / denom)
    return (
        joined.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("cosine")
        )
    )


def signlsh_planes(
    dim: int, n_planes: int, seed: int = 7
) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes for sign-LSH.

    Derived from the seed by the same fixed LCG family as
    :func:`minhash_coeffs`, so an oracle can embed the identical literals.
    ±1 coefficients keep the plane dot product an exact sign-flipped sum of
    the (float64-widened) vector entries — no rounding surprises between
    engines.
    """
    planes: list[list[float]] = []
    state = (seed * 2654435761 + 0x9E3779B9) % HASH_MOD
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % HASH_MOD
            row.append(1.0 if (state >> 7) & 1 else -1.0)
        planes.append(row)
    return planes


def signlsh_band_key(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """One band's bucket key: ``sum_j 2^j * [dot(v, plane_j) >= 0]``.

    The dot is the engine-wide left-associative float64 fold
    (functions.vector.dot), identical to the oracle's unrolled sum, so the
    sign decision — and therefore the bucket id — replays bit-for-bit.
    Built as ONE parsed expression when possible (same tree, see
    ``fold_literal_sql_text``): a calibrated plane set is dozens of
    folds, and per-fold Python lambda construction is pure driver cost.
    """
    from kaer_spark.functions.vector import (
        _literal_fold_args,
        fold_literal_sql_text,
    )

    if isinstance(vec_col, str) and all(
        _literal_fold_args(vec_col, p) is not None for p in planes
    ):
        parts = ["cast(0 as bigint)"]
        for j, plane in enumerate(planes):
            ds = fold_literal_sql_text(
                vec_col, [float(x) for x in plane], "x * y"
            )
            parts.append(
                f"cast(case when ({ds}) >= 0.0D then {1 << j} else 0 end"
                " as bigint)"
            )
        return cached_expr(" + ".join(parts))
    key = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bit = F.when(dot(vec_col, plane) >= 0.0, F.lit(1 << j)).otherwise(F.lit(0))
        key = key + bit.cast("long")
    return key


def calibrate_signlsh(
    n_rows: int,
    threshold: float = 0.95,
    target_bucket_rows: int = 1024,
    recall_target: float = 0.9,
    max_bands: int = 64,
    max_bits: int = 24,
) -> tuple[int, int]:
    """Corpus-size-adaptive ``(bands, bits_per_band)`` for sign-LSH.

    The scale contract of :func:`embedding_near_dups_lsh` is that per-bucket
    work stays bounded: each band splits the corpus into ``2^bits`` buckets
    and the within-bucket pair join is quadratic in bucket size, so a FIXED
    ``bits_per_band`` silently goes quadratic as the corpus grows (the
    round-5 reservation: 16 buckets/band is fine at sf0.1, fatal at 100 TB).

    * ``bits_per_band = ceil(log2(n_rows / target_bucket_rows))`` keeps the
      expected bucket population ≈ ``target_bucket_rows`` at ANY corpus
      size, which makes candidate-pair count grow linearly in rows
      (``n_rows × target_bucket_rows`` pairs, not ``n_rows²``).
    * ``bands`` is then raised to hold recall: for a pair at the threshold
      angle ``θ = acos(threshold)``, one plane agrees with probability
      ``p = 1 − θ/π``, one band collides with ``p^bits``, and OR-of-ANDs
      recall is ``1 − (1 − p^bits)^bands ≥ recall_target`` solved for the
      smallest integer ``bands`` (standard LSH tuning — Leskovec et al.,
      Mining of Massive Datasets §3.4).

    Pure arithmetic on the driver (no Spark job); caps keep the plane count
    bounded — hitting ``max_bands`` means the threshold/recall combination
    needs a multi-probe or re-rank strategy, not more random planes.
    """
    import math

    if n_rows <= 0:
        raise ValueError("n_rows must be positive")
    if not -1.0 <= threshold <= 1.0:
        raise ValueError("threshold must be a cosine in [-1, 1]")
    if not 0.0 < recall_target < 1.0:
        raise ValueError("recall_target must be in (0, 1)")
    bits = math.ceil(math.log2(max(2.0, n_rows / max(1, target_bucket_rows))))
    bits = max(1, min(max_bits, bits))
    p = 1.0 - math.acos(threshold) / math.pi
    p_band = p**bits
    if p_band >= 1.0:
        bands = 1
    elif p_band <= 0.0:
        # threshold = -1 → a band collision is impossible: no finite band
        # count reaches the recall target; return the cap (the caller's
        # re-rank/multi-probe escape hatch, same as hitting max_bands)
        bands = max_bands
    else:
        bands = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p_band))
    return max(1, min(max_bands, bands)), bits


def signlsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs colliding in ≥1 sign-LSH band.

    The banding stage of :func:`embedding_near_dups_lsh`, exposed so scale
    probes and custom verifiers can measure/consume the candidate set
    directly. Output columns: ``id_a``, ``id_b`` (distinct pairs). Kernel:
    :func:`_signlsh_probe` with no verify; the rows carry band keys only,
    no vectors.
    """
    keyed = _signlsh_keyed(
        df, id_col, vec_col, vec_dim(df, vec_col), bands, bits_per_band, seed
    )
    return _signlsh_probe(keyed.select("id", "__bks"), None)


def embedding_near_dups_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
    target_bucket_rows: int | None = None,
    recall_target: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold, candidates generated by
    banded sign-LSH instead of a low-cardinality blocking column.

    ``dim``: the vector dimensionality when the caller already knows it
    (e.g. from an index sidecar) — skips the one-row probe job that
    would otherwise re-run ``df``'s lineage. Ignored under calibration,
    whose counting aggregate yields the dimension for free. A non-null
    vector of any other length fails the query (:func:`_signlsh_keyed`).

    Scale shape (the fix for blocking on something like ``label``, which is
    quadratic within block): each vector gets ``bands`` bucket keys, each
    ``bits_per_band`` sign bits of deterministic Rademacher projections —
    a pair is a candidate iff it collides in AT LEAST one band (the classic
    LSH OR-of-ANDs), then candidates are verified with the exact cosine.
    Shuffle volume is O(rows × bands) for the inverted index plus the
    collision pairs; bucket cardinality grows as ``2^bits_per_band`` per
    band, so raising ``bits_per_band`` bounds per-bucket quadratic work at
    any corpus size. Recall for a pair at angle θ is
    ``1 - (1 - p^bits)^bands`` with ``p = 1 - θ/π`` — tune bands/bits to
    the threshold. Deterministic and oracle-replayable end-to-end: the
    planes are seeded literals and the dot folds match IEEE-exactly.
    Kernel: :func:`_signlsh_probe`, self-join form.

    ``target_bucket_rows`` switches on corpus-size-adaptive calibration:
    one bounded ``count()`` job, then :func:`calibrate_signlsh` derives
    ``bits_per_band`` to hold the expected bucket population at the target
    and raises ``bands`` to keep recall ≥ ``recall_target`` at the
    threshold — the fixed-width knobs are ignored. Use the explicit
    ``bands``/``bits_per_band`` form only when an external oracle must
    replay the exact plane set without seeing the data (the driver entry
    does this at a pinned, fixture-scale-appropriate width).
    """
    if target_bucket_rows is not None:
        # one bounded job gives both knobs the calibration needs
        nrow = df.agg(
            F.count(F.lit(1)).alias("n"),
            # ignorenulls: a NULL embedding in the first-scanned row must
            # not abort calibration while valid vectors exist elsewhere
            F.first(F.size(vec_col), ignorenulls=True).alias("d"),
        ).collect()[0]
        if nrow["n"] == 0 or nrow["d"] is None:
            raise ValueError(f"cannot calibrate on empty/null {vec_col!r}")
        bands, bits_per_band = calibrate_signlsh(
            int(nrow["n"]), threshold, target_bucket_rows, recall_target
        )
        dim = int(nrow["d"])
    else:
        dim = int(dim) if dim is not None else vec_dim(df, vec_col)
    keyed = _signlsh_keyed(df, id_col, vec_col, dim, bands, bits_per_band, seed)
    return _signlsh_probe(keyed, threshold)


def embedding_near_dups_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "vec_id",
    right_id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
) -> DataFrame:
    """CROSS-corpus embedding near-dups: ``(left_id, right_id, cosine)``
    for left vectors within ``threshold`` cosine of a right vector — the
    semantic twin of :func:`minhash_near_dups_between` (embedding-space
    decontamination / incremental-crawl dedup where lexical overlap is
    paraphrased away). Both corpora hash through the SAME seeded planes,
    so a vector and its copy collide whichever side holds them; the band
    join is strictly left × right, then exact-cosine verification —
    kernel :func:`_signlsh_probe`, cross form. The planes are drawn for
    the LEFT side's dimension; a right vector of any other length fails
    the query instead of silently matching nothing.

    Shape (r11): vectors + norms ride the inverted band index, so the
    exact-cosine verify runs INSIDE the band join — co-located with the
    bucket, zero additional shuffle — and only the surviving pairs (a
    deterministic expression, so band-duplicated survivors collapse
    exactly) reach the final ``distinct``. The prior shape materialized
    the full candidate-pair table (a second shuffle) and re-joined both
    vector tables (two more); with a calibrated bucket target B the pair
    table is ~``rows × bands × B × 16`` bytes while the vector-carrying
    index is ``rows × bands × vec_bytes`` — the ride wins whenever
    ``B × 16 > vec_bytes`` (already at B=1024, d=64), and it measured
    2.3× faster at the fixture scale where banding prunes least."""
    dim = vec_dim(left, vec_col)
    return _signlsh_probe(
        _signlsh_keyed(left, left_id_col, vec_col, dim, bands, bits_per_band, seed),
        threshold,
        _signlsh_inverted(
            right, right_id_col, vec_col, dim, bands, bits_per_band, seed
        ),
    )


def build_signlsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
) -> dict:
    """Materialize the REFERENCE side of cross-corpus EMBEDDING near-dup
    screening at ``path`` — the semantic twin of
    :func:`build_minhash_index` for the same recurring regime
    (paraphrase-level decontamination against a fixed benchmark corpus):
    the reference's vector-carrying inverted band index — ``(right_id,
    vr, nr, band, key)``, exactly the r11 ride-the-index layout
    :func:`embedding_near_dups_between` builds per call — goes to
    parquet once, with the plane geometry (dim, bands, bits, seed)
    frozen in the sidecar so the query side always hashes through the
    SAME seeded planes. Vectors + norms ride the stored index, so the
    exact-cosine verify still runs INSIDE the band join at serve time —
    co-located, zero extra shuffle. Growable like its MinHash twin:
    every stored row derives from its vector alone under the frozen
    plane geometry, so :func:`refresh_signlsh_index` appends the tail."""
    import os as _os

    dim = vec_dim(df, vec_col)
    _signlsh_inverted(
        df, id_col, vec_col, dim, bands, bits_per_band, seed
    ).write.mode("overwrite").parquet(_os.path.join(path, "bands"))
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "dim": int(dim),
        "bands": int(bands),
        "bits_per_band": int(bits_per_band),
        "seed": int(seed),
        "max_id": json_id(df.agg(F.max(F.col(id_col))).collect()[0][0]),
    }
    write_sidecar(_os.path.join(path, "signlsh_index.json"), meta)
    return meta


def _signlsh_keyed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bands: int,
    bits_per_band: int,
    seed: int,
) -> DataFrame:
    """The one sign-LSH band-row builder: ``(id, v, nrm, __bks)``, one
    array of ``(band, key)`` structs per vector under the seeded planes
    for ``dim``. Every form — the self-join, both cross sides, the
    stored index's build and refresh — keys its vectors here, so no two
    can hash differently. A non-null vector whose length is not ``dim``
    fails the query: zip-padding would otherwise collapse every band key
    to 0 and null every cosine, so a mismatched corpus would silently
    match nothing. Null vectors pass (they drop out at the cosine, as
    calibration expects)."""
    planes = signlsh_planes(dim, bands * bits_per_band, seed)
    v = F.col(vec_col)
    checked = F.when(v.isNull() | (F.size(v) == dim), v).otherwise(
        F.raise_error(
            F.lit(f"sign-LSH: a {vec_col!r} vector is not {dim}-dimensional")
        )
    )
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), checked.alias("v"))
    ).withColumn("nrm", vector_norm("v"))
    keys = [
        signlsh_band_key(
            "v", planes[b * bits_per_band : (b + 1) * bits_per_band]
        )
        for b in range(bands)
    ]
    return base.select(
        "id", "v", "nrm",
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), k.alias("key"))
                for b, k in enumerate(keys)
            ]
        ).alias("__bks"),
    )


def _signlsh_rows(keyed: DataFrame, side: str) -> DataFrame:
    """Explode :func:`_signlsh_keyed` rows into one row per band, named
    for ``side`` (``a``/``b`` of the self-join, ``l``/``r`` of the cross
    forms): ``(id_a, va, na, band, key)`` … ``(right_id, vr, nr, band,
    key)`` — the last being the stored index's layout. Vectors and norms
    ride along when ``keyed`` carries them."""
    ids = dict(zip("ablr", _SELF_IDS + _CROSS_IDS))
    names = {"id": ids[side], "v": f"v{side}", "nrm": f"n{side}"}
    carried = [c for c in keyed.columns if c != "__bks"]
    return keyed.select(
        *[F.col(c).alias(names[c]) for c in carried],
        F.explode("__bks").alias("bk"),
    ).select(
        *[names[c] for c in carried],
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )


def _signlsh_inverted(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bands: int,
    bits_per_band: int,
    seed: int,
) -> DataFrame:
    """The vector-carrying inverted band rows ``(right_id, vr, nr, band,
    key)`` — the stored index layout, shared by build, refresh and the
    right side of :func:`embedding_near_dups_between`."""
    return _signlsh_rows(
        _signlsh_keyed(df, id_col, vec_col, dim, bands, bits_per_band, seed),
        "r",
    )


def _signlsh_probe(
    left: DataFrame, threshold: float | None, right: DataFrame | None = None
) -> DataFrame:
    """The one sign-LSH kernel: band equi-join → exact cosine → distinct.
    ``left`` is a :func:`_signlsh_keyed` frame; ``right`` the ``(right_id,
    vr, nr, band, key)`` rows of a second corpus or of the stored index.
    With no ``right`` it is the self-join: ``left`` is checkpointed once
    for both join sides and the ``id_a < id_b`` rule applies →
    ``(id_a, id_b, cosine)``; with one → ``(left_id, right_id, cosine)``.
    ``threshold=None`` skips the verify and returns the distinct
    candidate pairs (:func:`signlsh_candidate_pairs`).

    [r17] Vectors + norms RIDE the inverted band index and the exact
    cosine verifies INSIDE the band join (the r11 cross-corpus shape,
    measured 2.3× faster there): only the SURVIVING pairs
    (post-threshold) reach the distinct, with no candidate-pair table and
    no vector re-joins; the trade is the band index carrying vec_bytes
    per row and the cosine evaluating once per colliding band instead of
    once per candidate pair (ride wins when bucket_rows × 16 >
    vec_bytes). Values are identical: the cosine expression is
    deterministic per pair (same na×nb denom order, same dot fold), so
    band-duplicated survivors collapse exactly in the final distinct."""
    self_join = right is None
    a, b = ("a", "b") if self_join else ("l", "r")
    ia, ib = _SELF_IDS if self_join else _CROSS_IDS
    if self_join:
        # two-consumer frame: materializes the plane folds (the dominant
        # expression cost) once for both join sides
        left = left.localCheckpoint(eager=False)
        right = _signlsh_rows(left, b)
    j = _signlsh_rows(left, a).join(right, on=["band", "key"])
    if self_join:
        j = j.filter(F.col(ia) < F.col(ib))
    if threshold is None:
        return j.select(ia, ib).distinct()
    denom = F.col(f"n{a}") * F.col(f"n{b}")
    # HOF dot, deliberately: the flat 64-term unroll (dot_fixed) measured
    # 2.7× SLOWER in the self-join in the full bench session (11.4s vs
    # 4.4s min) — inside this fused join+project stage the expanded chain
    # pushes the generated method over the JIT/codegen limits and the
    # whole stage drops to interpreted eval; as a cross-form JOIN
    # CONDITION it is re-parsed per BroadcastHashJoin match and lost by
    # ~6% in-session. Same lesson as the PQ ADC unroll note in
    # operators/similarity.py: unrolls win only in small stages.
    cos = F.when(denom != 0.0, dot(F.col(f"v{a}"), F.col(f"v{b}")) / denom)
    return (
        j.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(ia, ib, "cosine")
        .distinct()
    )


def refresh_signlsh_index(
    df: DataFrame,
    path: str,
    advance_to=None,
    *,
    batch=None,
) -> dict:
    """Catch-up for the at-rest sign-LSH reference index — the embedding
    twin of :func:`refresh_minhash_index` (reference O8,
    ``updateIndexFromLastId``, ``db/db.go:191-207``). New vectors with
    ``id > meta.max_id`` are keyed through the SIDECAR-frozen planes
    (:func:`_signlsh_inverted`, the same body the build uses) and
    appended — row-identical to a from-scratch build over the union
    (pytest-pinned). Single-table artifact, so one crash window: a
    replay after crash-between-append-and-watermark anti-joins the tail
    against right_ids already above the watermark (id-column-only,
    predicate-pushed scan of the index). Geometry guarded: a tail whose
    vectors are not ``meta.dim``-dimensional raises instead of silently
    hashing through mismatched planes. Pre-watermark artifacts derive
    the watermark from the stored table once, then stamp it.
    ``advance_to`` floors the flipped watermark, exactly as in
    :func:`refresh_minhash_index` — for screen-and-drop callers whose
    dropped ids are decided but never stored. ``batch`` is the id range
    an insert just wrote (:func:`~kaer_spark.operators.util.open_refresh`)."""
    import os as _os

    meta = read_signlsh_index_meta(path)
    icol = meta["id_col"]
    bands_dir = _os.path.join(path, "bands")
    _, tail, new_max, guard = open_refresh(
        df, path, "signlsh_index.json", meta, bands_dir, "right_id",
        advance_to, batch,
    )
    if new_max is None:
        return meta
    tail_dim = vec_dim(tail, meta["vec_col"])
    if tail_dim != meta["dim"]:
        raise ValueError(
            f"refresh_signlsh_index: tail vectors are {tail_dim}-dim but "
            f"the index at {path!r} was built over {meta['dim']}-dim "
            "vectors — rebuilding is the only sound operation"
        )
    tail = guard(tail, icol, bands_dir, "right_id")
    _signlsh_inverted(
        tail, icol, meta["vec_col"], meta["dim"], meta["bands"],
        meta["bits_per_band"], meta["seed"],
    ).write.mode("append").parquet(bands_dir)
    return flip_watermark(
        path, "signlsh_index.json", meta, new_max, advance_to
    )


def read_signlsh_index_meta(path: str) -> dict:
    import os as _os

    return read_sidecar(_os.path.join(path, "signlsh_index.json"))


def signlsh_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Health report for the at-rest sign-LSH reference index — the
    embedding twin of :func:`minhash_index_stats`, finishing the index-
    observability sweep (every at-rest family now reports): one summary
    row from the single vector-carrying band table —

    * ``n_vecs`` / ``n_band_rows`` — indexed vectors and stored band
      rows (``n_vecs × num_bands`` when healthy);
    * ``n_buckets`` / ``max_bucket`` / ``bucket_skew`` /
      ``p50_bucket_sz`` / ``p90_bucket_sz`` — band-bucket histogram vs
      the uniform design point: embedding collapse (many near-identical
      vectors, the very thing the screen exists to catch) shows up as a
      hot bucket long before it shows up as screen latency;
    * ``min_norm`` / ``p50_norm`` / ``max_norm`` — the stored norms'
      spread (selection-only, bit-exact): a drifting embedding provider
      moves the norm distribution before it moves cosine hits, and a
      zero ``min_norm`` names degenerate vectors the cosine verify will
      silently never match;
    * ``dim`` / ``num_bands`` / ``bits_per_band`` — sidecar geometry
      echo;
    * ``watermark`` (+ ``watermark_lag`` / ``is_stale`` with
      ``corpus``, typed by the id domain).

    REBUILD/REFRESH TRIGGER (documented policy): refresh per ingest
    (:func:`refresh_signlsh_index` is tail-bound). Rising
    ``bucket_skew`` with a stable corpus means the plane geometry is
    too coarse for the embedding distribution — rebuild with more
    ``bands × bits_per_band``; a norm-spread shift means re-embedding
    drifted and the THRESHOLD needs re-calibration, not the index.

    Scale note: bucket quantiles rank one row per bucket, norm
    quantiles one row per vector, both via two-level rank selection
    (``util.global_ranked`` — bit-exact, no single-reducer sort)."""
    import os as _os

    meta = read_signlsh_index_meta(path)
    bands_t = read_parquet(spark, _os.path.join(path, "bands"))
    buckets = (
        bands_t.groupBy("band", "key")
        .agg(F.count("*").alias("bc"))
        # three-consumer frame: the aggregate, the rank sample and its shuffle
        .localCheckpoint(eager=False)
    )
    bstats = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.sum("bc").cast("long").alias("n_band_rows"),
        F.max("bc").cast("long").alias("max_bucket"),
    )
    sel_b = ranked_quantiles(
        buckets, ["bc", "band", "key"], bstats, "n_buckets",
        "p50_bucket_sz", "p90_bucket_sz",
    )
    # one (id, norm) row per vector: every band row carries the same
    # (vr, nr), so band 0's slice IS the vector table — no distinct over
    # doubles, no re-derivation that could drift from the stored values
    # checkpointed for the same reason as minhash_index_stats' sizes
    # frame: three consumers (aggregate + global_ranked's sample +
    # shuffle) would each re-scan the bands parquet, whose rows carry
    # the full stored vectors — the narrow (id, nrm) barrier decodes
    # them once
    norms = bands_t.filter(F.col("band") == 0).select(
        F.col("right_id").alias("id"), F.col("nr").alias("nrm")
    ).localCheckpoint(eager=False)
    nstats = norms.agg(
        F.count("*").alias("n_vecs"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )
    p50_n = ranked_quantiles(
        norms, ["nrm", "id"], nstats, "n_vecs", "p50_norm", cast=None,
    )
    out = (
        nstats.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(sel_b))
        .crossJoin(F.broadcast(p50_n))
        .withColumn(
            "bucket_skew",
            (F.col("max_bucket") * F.col("n_buckets")).cast("double")
            / F.col("n_band_rows"),
        )
        .withColumn("dim", F.lit(int(meta["dim"])).cast("long"))
        .withColumn("num_bands", F.lit(int(meta["bands"])).cast("long"))
        .withColumn(
            "bits_per_band", F.lit(int(meta["bits_per_band"])).cast("long")
        )
    )
    return watermark_health_cols(
        out, meta.get("max_id"), corpus, corpus_id_col or meta["id_col"]
    )


def embedding_dups_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "vec_id",
    vec_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """:func:`embedding_near_dups_between` with the RIGHT side served from
    the at-rest artifact of :func:`build_signlsh_index` — value-identical
    to the from-vectors cross call over the built reference (planes
    re-derived from the sidecar geometry, so the two sides cannot hash
    differently). Returns ``(left_id, right_id, cosine)``; the call pays
    the query side's banding plus the band equi-join, with the exact
    verify co-located in the join as in the fresh operator — kernel
    :func:`_signlsh_probe`, cross form. A probe vector that is not
    ``dim``-dimensional (the sidecar's) fails the query."""
    import os as _os

    meta = read_signlsh_index_meta(path)
    keyed = _signlsh_keyed(
        left, left_id_col, vec_col or meta["vec_col"], meta["dim"],
        meta["bands"], meta["bits_per_band"], meta["seed"],
    )
    return _signlsh_probe(
        keyed, threshold, read_parquet(spark, _os.path.join(path, "bands"))
    )


def dedup_clusters(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iterations: int = 20,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup PAIRS → one cluster id per doc.

    The pair operators above (Jaccard / MinHash / SimHash / cosine) emit
    edges; a training-corpus dedup needs the transitive closure — if A~B
    and B~C, all three are one duplicate group even when A~C was never a
    candidate pair. Output: ``(id, cluster_id)`` for every id appearing in
    a pair, where ``cluster_id`` is the MINIMUM id in the component (so
    the cluster id is itself the deterministic representative to keep).

    Adaptive execution (r11): the deduplicated edge COUNT is one bounded
    aggregate over the already-checkpointed edges, and when it is at most
    ``max_driver_edges`` the closure runs as a driver-side union-find
    over the collected edge list — one job instead of O(diameter) shuffle
    rounds, the same decision shape as a broadcast-join threshold (a
    near-dup edge list under a million rows is a few MB; the fixture
    graphs are thousands). Merging always attaches the larger root under
    the smaller, so every component's root IS its minimum id — the
    distributed path's min-label fixpoint, value-identical. Above the
    threshold (web-scale dup graphs), the iterative min-label propagation
    below runs unchanged.

    Distributed path: HashToMin-style min-label propagation — each round
    every node adopts the smallest label among itself and its neighbors;
    converges in O(diameter) rounds (dedup components are near-cliques
    from banded candidate generation, so diameter is tiny), exiting as
    soon as a round changes nothing. Lazy checkpoints make each round's
    convergence sum the action that materializes that round's labels —
    ONE job per round, lineage truncated so round N never replays rounds
    1..N-1.

    Non-relational by nature (a fixpoint), so driver checks are rows-only;
    tests verify BOTH paths against a Python union-find reference.
    """
    edges = (
        pairs.select(
            F.col(left_col).cast("long").alias("src"),
            F.col(right_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # multi-consumer frame: symmetric edges, seed labels, every round
        .localCheckpoint(eager=False)
    )
    if int(max_driver_edges) > 0:
        n_edges = edges.count()
        if n_edges <= int(max_driver_edges):
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in edges.collect():
                a, b = r["src"], r["dst"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # larger root under smaller ⇒ root = min
            out = [(x, find(x)) for x in parent]
            # Arrow path: a list-of-tuples createDataFrame round-trips
            # through pickled RDD slices (~0.4-1.5s of fixed driver
            # overhead measured at 477 rows); the pandas conversion ships
            # one Arrow batch (~0.1s)
            import pandas as pd

            return pairs.sparkSession.createDataFrame(
                pd.DataFrame(out, columns=["id", "cluster_id"]).astype("int64"),
                "id long, cluster_id long",
            )
    # undirected: propagate labels both ways each round
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
        # lineage cut: each round joins the previous round's labels
        .localCheckpoint(eager=False)
    )
    def label_sum(frame: DataFrame) -> int:
        return frame.agg(F.sum("label")).collect()[0][0] or 0

    # labels move monotonically DOWN under min-propagation, so the label
    # sum strictly decreases every round until the fixpoint — a one-column
    # agg on the already-materialized checkpoint detects convergence
    # without a join-and-compare pass.
    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        # each node's next label: min over its own and all neighbors' labels
        neighbor_labels = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"), F.col("label")
        )
        labels = (
            labels.select("id", "label")
            .union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            # lineage cut: bounds the plan of the iterative label propagation
            .localCheckpoint(eager=False)
        )
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every clustered doc except its cluster's representative (the
    min id). Docs that never appeared in a pair keep themselves. This is
    the final stage of a near-dedup pipeline: pairs → components →
    filtered corpus."""
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("_drop_id")
    )
    return df.join(
        drop, df[id_col] == F.col("_drop_id"), "left_anti"
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """One row per duplicate cluster: ``(cluster_id, kept_id, sz)`` where
    ``kept_id`` is the member to keep.

    ``score_col=None`` keeps the min id (same policy as
    :func:`dedup_representatives`). With a ``score_col`` the kept member
    is the HIGHEST-scoring one (ties broken by min id) — the
    quality-aware canonical selection production dedups actually want:
    near-dup clusters usually hold one full document plus truncated or
    boilerplate-injected copies, and keep-min-id happily keeps the
    truncation when it happens to carry the smallest id. Scoring by
    length, quality score, or fluency keeps the best copy instead.

    Shape: clusters ⨝ df on id (one shuffle, or broadcast when the
    clustered subset is small — it's pairs-only, not corpus-sized), then
    a single max_by/count aggregate per cluster. Nothing is collected.
    """
    member_cols = [F.col("id").alias("__mid"), F.col("cluster_id")]
    members = clusters.select(*member_cols).join(
        df.select(
            F.col(id_col).alias("__mid"),
            *( [F.col(score_col).alias("__score")] if score_col else [] ),
        ),
        "__mid",
    )
    if score_col:
        # min_by over (-score, id): highest score wins, smallest id on
        # ties. The SCORE is negated (scores are numeric by nature), not
        # the id, so arbitrary orderable id types — string doc ids
        # included — work, matching dedup_representatives' type-agnostic
        # F.min. Null scores coalesce to -inf (negated: +inf → sorts
        # last), so a scored member always beats an unscored one and an
        # all-null cluster falls back to the min-id policy.
        key = F.struct(
            (
                -F.coalesce(
                    F.col("__score").cast("double"), F.lit(float("-inf"))
                )
            ).alias("neg_score"),
            F.col("__mid").alias("id"),
        )
        choice = F.min_by("__mid", key).alias("kept_id")
    else:
        choice = F.min("__mid").alias("kept_id")
    return members.groupBy("cluster_id").agg(
        choice, F.count("*").alias("sz")
    )


def dedup_keep_best(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter the corpus to one best-scoring member per duplicate cluster
    (unclustered docs all survive) — :func:`dedup_representatives` with a
    quality policy instead of min-id. Anti-join on the loser set; the
    loser set stays a DataFrame end to end."""
    kept = cluster_representatives(df, clusters, id_col, score_col)
    losers = (
        clusters.join(
            kept.select(F.col("cluster_id"), F.col("kept_id")), "cluster_id"
        )
        .filter(F.col("id") != F.col("kept_id"))
        .select(F.col("id").alias("_drop_id"))
    )
    return df.join(losers, df[id_col] == F.col("_drop_id"), "left_anti")


def cluster_holdout_split(
    df: DataFrame,
    clusters: DataFrame,
    test_permille: int = 100,
    id_col: str = "doc_id",
    buckets: int = 1000,
) -> DataFrame:
    """Near-dup-aware train/test split: assign each DUPLICATE CLUSTER —
    not each document — to a split, so near-duplicates never straddle
    train and test. A row-level split leaks: if doc A trains and its
    near-copy B evaluates, the eval is contaminated in exactly the way
    the dedup family exists to detect (Lee et al. 2022 §6 measure the
    inflation). Here the split key is ``coalesce(cluster_id, id)`` — a
    whole cluster lands on one side by construction, unclustered docs
    hash independently — and bucketing is the engine's deterministic LCG
    (``sampling.sample_bucket``): same split on every run/engine/retry,
    and MONOTONE in ``test_permille`` (raising it only moves additional
    clusters into test, never reshuffles the rest — so a 5% smoke split
    is a subset of the later 10% one).

    Returns ``df``'s rows + ``split`` ('test' | 'train'). REQUIRES
    integer-typed ids and cluster ids (the LCG bucket is int64
    arithmetic): a non-castable key raises per row rather than silently
    bucketing to 'train' (hash string ids to int64 first — e.g.
    ``F.xxhash64``). Scale shape: one equi-join against the (pairs-sized,
    usually broadcastable) cluster table + a scan-stage predicate — no
    window, no shuffle of the corpus beyond the join."""
    from kaer_spark.operators.sampling import sample_bucket

    cl = clusters.select(
        F.col("id").alias("__cid_id"), F.col("cluster_id").alias("__cluster")
    )
    joined = df.join(cl, df[id_col] == F.col("__cid_id"), "left")
    key = F.coalesce(F.col("__cluster"), F.col(id_col))
    # The LCG bucket casts its key to long; a non-numeric id (or a NULL
    # id) casts to NULL under non-ANSI semantics, NULL < test_permille is
    # NULL, and every such row would silently land in 'train' — a skewed
    # split with no signal (r13 advice). Integer ids are a documented
    # requirement; violating it raises the same descriptive error whether
    # ANSI mode is on (where a plain cast would throw its own) or off
    # (where it would fail open) — hence try_cast + raise_error.
    key_long = F.when(
        key.try_cast("long").isNull(),
        F.raise_error(
            F.format_string(
                "cluster_holdout_split: split key %s is not an integer "
                "(id_col/cluster_id must be integer-typed — hash string "
                "ids to int64 before splitting)",
                key.cast("string"),
            )
        ).cast("long"),
    ).otherwise(key.try_cast("long"))
    split = F.when(
        sample_bucket(key_long, buckets) < F.lit(int(test_permille)),
        F.lit("test"),
    ).otherwise(F.lit("train"))
    return joined.withColumn("split", split).drop("__cid_id", "__cluster")


def split_leakage(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Cross-split leakage REPORT for an EXTERNALLY-provided split — the
    diagnostic companion to :func:`cluster_holdout_split` (which prevents
    leakage by construction; this measures it when the split came from
    elsewhere): every near-dup pair from ``pairs`` (``(id_a, id_b)`` +
    any score columns, e.g. :func:`minhash_near_dups` output) whose two
    members landed in DIFFERENT splits — each one a train/eval
    contamination (the memorization-inflates-eval effect of Lee et al.
    2022 §6). Returns the straddling pairs with both split labels; count
    it for the headline number, inspect it for the worst offenders.

    FAIL-LOUD on partial split tables (r13 verdict: both joins used to be
    INNER, so a pair whose member was absent from ``splits`` — a typo'd
    id column, a split computed over a filtered subset — silently
    VANISHED from a contamination report, the unsafe direction): the
    joins are LEFT, a missing label surfaces as the literal ``'?'``, and
    any pair with a ``'?'`` member is INCLUDED in the report (its
    leakage status is unknown, which a safety report must show, not
    hide). A complete split table returns exactly the old rows. Shape:
    two equi-joins of the (pairs-sized) pair table against the (id,
    split) table — the corpus itself is never touched."""
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b")
    )
    labeled = (
        pairs.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .withColumn("split_a", F.coalesce(F.col("split_a"), F.lit("?")))
        .withColumn("split_b", F.coalesce(F.col("split_b"), F.lit("?")))
    )
    unknown = (F.col("split_a") == "?") | (F.col("split_b") == "?")
    return labeled.filter(
        (F.col("split_a") != F.col("split_b")) | unknown
    )


def remove_duplicate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Rewrite each document with its corpus-duplicated lines removed —
    the CCNet/RefinedWeb line-level dedup TRANSFORM (not just a report):
    a line appearing in ``min_docs`` or more distinct documents is
    boilerplate (cookie banners, nav bars, license headers) and is
    dropped from every document; surviving lines are reassembled in their
    original order. Output: ``(id_col, text_clean, n_lines, n_kept)``
    with ``text_clean = ''`` when nothing survives.

    Only lines with non-whitespace content count (empty lines are
    formatting, not content, and would otherwise all "duplicate" each
    other); they are also elided from the rebuilt text, which is how the
    CCNet paragraph normalization behaves.

    Scale shape: one narrow posexplode (rows = total lines), a map-side-
    combined distinct count per exact line string, one equi-join carrying
    each line's doc frequency back, and one groupBy-id pass that rebuilds
    the kept text (collect_list skips the when()-nulled boilerplate
    lines) while counting totals. Shuffle is O(total lines); no pair
    join, no driver collect. The rebuild's collect_list holds ONE
    document's lines per group — bounded by the longest document, same
    envelope as reading it.

    ``sep`` is passed to ``split`` as a REGEX (the default ``"\\n"``
    matches literally); the rebuilt text is joined with ``join_sep``,
    a LITERAL string defaulting to ``sep``. When splitting on a
    non-literal pattern (e.g. ``"\\r?\\n"``) pass an explicit
    ``join_sep`` — otherwise the raw regex text would be inserted
    verbatim between rebuilt lines.
    """
    if join_sep is None:
        join_sep = sep
    lines = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "ln"),
        )
        .filter(F.length(F.trim("ln")) > 0)
    )
    freq = lines.select("id", "ln").distinct().groupBy("ln").agg(
        F.count("*").alias("df")
    )
    # ONE join + ONE aggregate: lines carry their doc frequency (inner on
    # ln — freq covers every distinct line), then a single per-doc pass
    # rebuilds the kept text and counts both totals. collect_list skips
    # the nulls the when() emits for boilerplate lines, so the kept
    # subset needs no second join; the explode is evaluated twice (freq
    # branch + join branch), not three times as the semi-join shape did.
    keep = F.col("df") < int(min_docs)
    rebuilt = (
        lines.join(freq, "ln")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "ln")))
                    ),
                    lambda s: s["ln"],
                ),
                join_sep,
            ).alias("text_clean"),
            F.count("*").alias("n_lines"),
            F.sum(keep.cast("long")).alias("n_kept"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_repeats: int = 2,
    sep: str = "\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Rewrite each document with its WITHIN-document repeated lines
    collapsed to their first occurrence — the intra-doc sibling of
    :func:`remove_duplicate_lines` (which removes corpus-wide
    boilerplate entirely): a non-blank line occurring ``min_repeats``+
    times in the SAME document keeps only its earliest occurrence,
    everything else survives in original order. Output:
    ``(id_col, text_clean, n_lines, n_kept)``.

    This is the self-repetition cleanup scraped pages and chat logs need
    (repeated nav blocks, quoted-reply pileups, copy-paste stutter) —
    the signal Gopher's repetition rules (Rae et al. 2021 §A1.1) use to
    DROP whole documents, applied as a transform that salvages them
    instead. ``min_repeats`` > 2 keeps mild repetition (a line occurring
    fewer than ``min_repeats`` times is untouched) and only collapses
    the pathological repeats.

    Scale shape: one narrow posexplode (rows = total lines), one window
    pass partitioned by ``(id, line)`` ranking occurrences by position
    (the shuffle is O(total lines), keyed within the document), and the
    shared per-doc rebuild (collect_list of kept (pos, line) structs,
    sorted — bounded by the longest document). No pair join, no UDF, no
    collect; blank lines are formatting and are elided like the
    corpus-level transform does.
    """
    if min_repeats < 2:
        raise ValueError("min_repeats must be >= 2")
    if join_sep is None:
        join_sep = sep
    lines = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "ln"),
        )
        .filter(F.length(F.trim("ln")) > 0)
    )
    w = Window.partitionBy("id", "ln")
    marked = lines.withColumn(
        "rn", F.row_number().over(w.orderBy("pos"))
    ).withColumn("occ", F.count("*").over(w))
    keep = (F.col("rn") == 1) | (F.col("occ") < int(min_repeats))
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "ln")))
                ),
                lambda s: s["ln"],
            ),
            join_sep,
        ).alias("text_clean"),
        F.count("*").alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicated-passage detection
# ---------------------------------------------------------------------------
def duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-passage report: every ``length``-character window
    whose exact content occurs in at least ``min_docs`` DISTINCT documents
    → ``(fp, n_docs, n_occurrences, rep_doc)``.

    This is the fixed-granularity form of exact-substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    whole-document dedup misses boilerplate, licenses, and templated
    passages pasted into otherwise-distinct documents; window-level
    collisions find them. Downstream, join ``fp`` back to re-locate spans
    or feed ``rep_doc`` exemplars to a reviewer.

    Mechanics: the text's codepoint array is materialized ONCE per row
    (``split``), each window hashes by folding an O(length) array slice —
    O(chars × length) total work, never the O(chars²) of per-window
    ``substring`` rescans — with the corpus-wide poly-hash (base 31 mod
    1e9+7, int64-exact), so a SQL oracle replays every fingerprint. One
    narrow explode (chars per row) and one hash aggregate; ``min_docs``
    filters AFTER the map-side-combined counts, so ubiquitous windows
    never fan out beyond their counts.

    Scale honesty: compute AND shuffle are LINEAR in corpus chars (never
    quadratic — no pair join exists), but the constant is real: one
    (fp, id) row per character position, ~16 bytes each, partially
    collapsed map-side by the distinct-count partials. ``min_docs``
    cannot prune map-side (a window unique within one task may still
    match another task's), so at extreme scale run this per shard/source
    first, or raise ``length``/pre-sample — the report is diagnostic, not
    a per-ingest hot path. (The asymptotically leaner alternative is an
    offline suffix-array pass, Lee et al. §4 — a different tool, not a
    Spark operator.)

    Collisions: the fingerprint is the PAIR of independent poly folds
    (base 31 mod 1e9+7, base 131 mod 1e9+9) packed into one int64 — ~60
    collision bits, so two different windows collide with probability
    ~1e-18 per pair (~5e5 expected colliding pairs even at 1e12 windows).
    The report is a detection signal, not a byte-equality proof — the
    removal transforms verify flagged windows by exact content before
    excising; verify exemplars via ``rep_doc`` here if bytes matter.
    """
    if length <= 0:
        raise ValueError("length must be positive")
    L = int(length)
    # ensure_parallelism: the fixture-scale single-file scan would
    # otherwise run the whole O(chars × length) hash in ONE task (measured
    # 63s -> ~3s at sf0.1); at real scale the input has partitions and
    # this is a no-op
    exploded = (
        ensure_parallelism(df.filter(F.length(text_col) >= L))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                window_fps_col(
                    text_col, L, HASH_BASE, HASH_MOD, HASH_BASE2, HASH_MOD2
                )
            ).alias("fp"),
        )
    )
    # two-level aggregation instead of groupBy(fp).agg(countDistinct(id),
    # count, min): mixing a distinct agg with plain aggs makes Catalyst
    # plan an Expand (row set ×2) before the shuffle — measured 3.6× slower
    # at sf0.1 (4.7s vs 1.3s for the single-distinct shape). The explicit
    # (fp, id) pre-aggregate collapses within-doc repeats map-side, then
    # the fp rollup is all plain aggs; identical values, no Expand.
    per_doc = exploded.groupBy("fp", "id").agg(F.count("*").alias("occ"))
    return (
        per_doc.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
            F.min("id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") >= int(min_docs))
    )


def _window_fp_explode(
    df: DataFrame, id_col: str, text_col: str, length: int
) -> DataFrame:
    """Exploded ``(id, pos0, fp)`` window fingerprints — the shared
    front end of the passage-dedup family (report, removal, cross-corpus
    overlap): each ``length``-char window hashes to the paired-moduli
    fingerprint (~60 collision bits, :mod:`kaer_spark.functions.fphash`),
    and one narrow posexplode carries the 0-based start position."""
    L = int(length)
    return (
        ensure_parallelism(df.filter(F.length(text_col) >= L))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(
                window_fps_col(
                    text_col, L, HASH_BASE, HASH_MOD, HASH_BASE2, HASH_MOD2
                )
            ).alias("pos0", "fp"),
        )
    )


def _window_str(text_col_name: str, pos0_col: str, length: int) -> Column:
    """The actual ``length``-char window content at 0-based ``pos0`` —
    the exact-equality side of candidate verification."""
    return F.col(text_col_name).substr(
        (F.col(pos0_col) + 1).cast("int"), F.lit(int(length))
    )


def _flagged_verified_self(
    df: DataFrame,
    id_col: str,
    text_col: str,
    length: int,
    min_docs: int,
) -> DataFrame:
    """Content-verified flagged windows ``(id, pos0)`` for the SELF-dedup
    transform: exactly the windows whose CONTENT occurs in ``min_docs``+
    distinct documents — a fingerprint collision can never flag
    non-duplicate text.

    The r12 shape: the COUNTING stage is byte-for-byte the unverified
    path (int64 fingerprints only — no window string is ever built
    corpus-wide), and content materializes ONLY for candidate rows, by
    joining the flagged ``(id, pos0)`` positions back to the original
    text and slicing there:

    * ``fp``-level distinct-doc count ≥ ``min_docs`` → candidate rows
      (a content's fp-count is ≥ its content-count, so no qualifying
      content can be missed at this stage);
    * candidates join their doc's text once (equi-join on id; text
      never explodes) and slice ``wstr`` in the projection — string
      work ∝ candidate mass, not corpus chars;
    * a content-level distinct-doc recount over the candidate-sized rows
      keeps exactly the contents in ``min_docs``+ docs — identical
      contents always share an fp, so the recount is complete per
      content and grouping by ``wstr`` alone is sound.

    The candidate subtree is deliberately NOT checkpointed: its double
    evaluation re-runs int64 window hashing (codegen-cached, scan-shaped
    — the cheap part), while a localCheckpoint pays a full plan compile
    plus block materialization per call (measured 2.9s vs 1.2s min at
    sf0.1). On a cluster where the recompute is the dominant cost,
    ``.persist()`` the input instead.

    (The r11 design instead carried min/max-``wstr`` agreement partials
    through the counting aggregate — correct, but it built every window
    string twice corpus-wide; measured 2.2s vs the 0.9s unverified floor
    at sf0.1. This shape restores the unverified counting cost.)
    """
    L = int(length)
    exploded = _window_fp_explode(df, id_col, text_col, length)
    dup_fps = (
        exploded.groupBy("fp")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("fp")
    )
    cand = exploded.join(dup_fps, "fp", "left_semi")
    cand_w = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(cand, "id")
        .select("id", "pos0", _window_str("__t", "pos0", L).alias("wstr"))
    )
    ok_contents = (
        cand_w.groupBy("wstr", "id")
        .agg(F.count("*").alias("occ"))
        .groupBy("wstr")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("wstr")
    )
    return cand_w.join(ok_contents, "wstr", "left_semi").select("id", "pos0")


def _flagged_verified_against(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str,
    right_id_col: str,
    text_col: str,
    length: int,
) -> DataFrame:
    """Content-verified flagged LEFT windows ``(id, pos0)`` for the
    cross-corpus transforms: exactly the left windows whose CONTENT
    appears verbatim somewhere in the RIGHT corpus.

    Same r12 shape as :func:`_flagged_verified_self`: BOTH explodes stay
    int64-only (no corpus-wide window strings); candidate left positions
    and the right positions sharing their fps each join back to their
    own corpus's text once, slice content in the projection (string work
    ∝ candidate mass on both sides), and the final LEFT SEMI on
    ``(fp, wstr)`` keeps exactly the left windows whose content exists
    verbatim on the right — identical content always yields an identical
    fp, so the fp-candidate set is complete for every qualifying
    content and a collision can never verify."""
    L = int(length)
    rexp = _window_fp_explode(right, right_id_col, text_col, length)
    lexp = _window_fp_explode(left, left_id_col, text_col, length)
    lcand = lexp.join(rexp.select("fp").distinct(), "fp", "left_semi")
    lcand_w = (
        left.select(F.col(left_id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(lcand, "id")
        .select("id", "pos0", "fp", _window_str("__t", "pos0", L).alias("wstr"))
    )
    cand_fps = lcand_w.select("fp").distinct()
    rcand = rexp.join(cand_fps, "fp", "left_semi")
    rcand_w = (
        right.select(
            F.col(right_id_col).alias("id"), F.col(text_col).alias("__t")
        )
        .join(rcand, "id")
        .select("fp", _window_str("__t", "pos0", L).alias("wstr"))
        .distinct()
    )
    return lcand_w.join(rcand_w, ["fp", "wstr"], "left_semi").select(
        "id", "pos0"
    )


def _excise_spans(
    df: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    length: int,
) -> DataFrame:
    """Merge flagged window starts into maximal spans per doc and rebuild
    the text without them — the shared back end of the passage-removal
    transforms. ``flagged``: (id, pos0) rows; output
    ``(id_col, text_clean, n_spans, n_chars_removed)`` over EVERY row of
    ``df`` (unflagged/short docs pass through unchanged).

    Span merging is gaps-and-islands (running max-end window, +1 merges
    adjacency so kept gaps are never zero-length) on the id partitioning;
    the rebuild folds the sorted span array against the original text
    with ``Column.substr`` arithmetic — one expression per row, no UDF,
    no collect; spans per doc bounded by chars/length.
    """
    L = int(length)
    spans_src = flagged.select(
        "id",
        (F.col("pos0") + 1).cast("long").alias("s"),
        (F.col("pos0") + L).cast("long").alias("e"),
    )
    w_prev = (
        Window.partitionBy("id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        spans_src.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn(
            "ni",
            (
                F.col("prev_e").isNull()
                | (F.col("s") > F.col("prev_e") + 1)
            ).cast("long"),
        )
        .withColumn("island", F.sum("ni").over(w_run))
        .groupBy("id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("spans")
        )
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    ).join(spans, "id", "left")
    rebuilt = F.aggregate(
        F.col("spans"),
        F.struct(
            F.lit("").alias("t"), F.lit(0).cast("long").alias("prev")
        ),
        lambda acc, iv: F.struct(
            F.concat(
                acc["t"],
                F.col("__text").substr(
                    (acc["prev"] + 1).cast("int"),
                    (iv["s"] - acc["prev"] - 1).cast("int"),
                ),
            ).alias("t"),
            iv["e"].alias("prev"),
        ),
        lambda acc: F.concat(
            acc["t"],
            F.col("__text").substr(
                (acc["prev"] + 1).cast("int"),
                (F.length("__text") - acc["prev"]).cast("int"),
            ),
        ),
    )
    removed = F.aggregate(
        F.col("spans"),
        F.lit(0).cast("long"),
        lambda a, iv: a + iv["e"] - iv["s"] + 1,
    )
    return base.select(
        F.col("id").alias(id_col),
        F.coalesce(rebuilt, F.col("__text")).alias("text_clean"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(removed, F.lit(0)).cast("long").alias("n_chars_removed"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS local fingerprinting algorithm): from every run of
    ``window`` consecutive ``k``-gram hashes keep only the MINIMUM (ties
    → rightmost, the paper's rule), giving ~``2/(window+1)`` selection
    density with the winnowing GUARANTEE: any shared substring of length
    ≥ ``k + window − 1`` yields at least one shared selected fingerprint.
    This is the passage family's sampled operating point — Lee-et-al
    ``duplicate_passages`` posts EVERY window (exact, 1× density),
    winnowing posts ~an eighth of them and still can't miss a long match,
    which is the posting-volume trade web-scale plagiarism/overlap
    detection actually ships.

    Output: distinct ``(id, pos0, fp)`` selections (0-based window
    start, the engine-wide ~60-bit paired-moduli fingerprint).

    Documents shorter than ``k`` contribute nothing; documents with
    fewer than ``window`` hashes form one truncated window (its min is
    selected) — same convention both engine- and oracle-side.

    Scale shape: hashing and selection run scan-side in one Arrow batch
    per partition chunk (``fphash.winnow_selections_col``), one explode
    of the SELECTED windows only, one distinct. Nothing leaves the scan
    stage until the (id, pos, fp) rows — already winnowed — hit the
    distinct's exchange.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be positive")
    K, w = int(k), int(window)
    # no checkpoint needed: the UDF output is a single struct of
    # parallel (pos0, fp) arrays, exploded once
    sel = winnow_selections_col(
        text_col, K, w, HASH_BASE, HASH_MOD, HASH_BASE2, HASH_MOD2
    )
    return (
        ensure_parallelism(df.filter(F.length(text_col) >= K))
        .select(F.col(id_col).alias("id"), sel.alias("__s"))
        .select(
            "id",
            F.explode(F.arrays_zip(F.col("__s.p"), F.col("__s.f"))).alias(
                "__e"
            ),
        )
        .select(
            "id",
            F.col("__e.p").cast("long").alias("pos0"),
            F.col("__e.f").alias("fp"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` distinct winnowed
    fingerprints — the MOSS similarity report built on
    :func:`winnow_fingerprints`. By the winnowing guarantee a pair
    sharing any passage of ``k + window − 1``+ chars shares at least one
    selected fingerprint, at ~1/8th the posting volume of the exact
    passage report (the inverted-index join cost scales with postings²
    per key, so the density cut is the whole point at corpus scale).

    Output: ``(id_a < id_b, n_shared)``, descending share count. Kernel:
    :func:`_winnow_overlap`, self-join form.

    (The ``(id, pos0, fp)`` distinct inside :func:`winnow_fingerprints`
    does NOT cost this path a second exchange: Catalyst's
    RemoveRedundantAggregates folds it into the ``(id, fp)`` distinct —
    plan-verified r17, one aggregate pair per side.)"""
    return _winnow_overlap(
        _winnow_fps(winnow_fingerprints(df, id_col, text_col, k, window)),
        min_shared,
    )


def _winnow_fps(fps: DataFrame) -> DataFrame:
    """Distinct ``(id, fp)`` of winnowed selections — one side of
    :func:`_winnow_overlap`."""
    return fps.select("id", "fp").distinct()


def _winnow_overlap(
    left: DataFrame, min_shared: int, right: DataFrame | None = None
) -> DataFrame:
    """The one winnow kernel: ``fp`` equi-join → per-pair count →
    ``n_shared >= min_shared``. Each side is a distinct ``(id, fp)``
    frame (:func:`_winnow_fps`). With no ``right`` it is the self-join
    (``id_a < id_b``); with one, strictly left × right
    (``left_id, right_id``)."""
    ia, ib = _SELF_IDS if right is None else _CROSS_IDS
    j = left.alias("a").join((left if right is None else right).alias("b"), "fp")
    if right is None:
        j = j.filter(F.col("a.id") < F.col("b.id"))
    return (
        j.groupBy(F.col("a.id").alias(ia), F.col("b.id").alias(ib))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def fuzzy_near_dups_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    max_edits: int = 2,
    key_len: int = 32,
    max_key_df: int | None = None,
) -> DataFrame:
    """CROSS-corpus edit-distance pairs: ``(left_id, right_id,
    edit_distance)`` for left documents within ``max_edits`` Levenshtein
    edits (on the normalized fixed-width key) of a right document — the
    typo-variant decontamination shape: an eval prompt that entered the
    crawl with OCR noise or small in-place edits passes exact and
    shingle screens but not this one. Same complete segment blocking as
    :func:`fuzzy_near_dups` (left = index side, right = probe side —
    the pigeonhole lemma needs only ONE side segmented), joined strictly
    across corpora, exact ``levenshtein`` verify (kernel
    :func:`_fuzzy_pairs`, cross form). With the default
    ``max_key_df=None`` the result equals the brute-force cross product,
    which is what the oracle runs."""
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1 (0 is exact matching)")
    return _fuzzy_pairs(
        _fuzzy_keyed(left, left_id_col, text_col, key_len),
        _fuzzy_keyed(right, right_id_col, text_col, key_len),
        key_len, max_edits, max_key_df, same_corpus=False,
    ).select(
        F.col("id_a").alias("left_id"),
        F.col("id_b").alias("right_id"),
        "edit_distance",
    )


def winnow_overlap_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """CROSS-corpus winnowed overlap: ``(left_id, right_id, n_shared)``
    for left documents sharing ≥ ``min_shared`` selected fingerprints
    with a right document — ``passage_overlap_between`` at winnowed
    density (~2/(window+1) of the postings) while the winnowing
    guarantee still detects every shared passage of ``k + window − 1``+
    chars. The eval-decontamination screen you can afford to run against
    the FULL training corpus on every refresh; escalate flagged pairs to
    the exact passage report when byte accounting matters. Kernel:
    :func:`_winnow_overlap`, cross form."""
    return _winnow_overlap(
        _winnow_fps(winnow_fingerprints(left, left_id_col, text_col, k, window)),
        min_shared,
        _winnow_fps(winnow_fingerprints(right, right_id_col, text_col, k, window)),
    )


# ---------------------------------------------------------------------------
# at-rest winnow (MOSS fingerprint) reference index — the 8th standing family
# ---------------------------------------------------------------------------
def build_winnow_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
) -> dict:
    """Materialize the REFERENCE side of cross-corpus winnowed-overlap
    screening at ``path`` — the eighth at-rest family, landing complete
    (build + O8 refresh + stats twin, the engine-wide template the r16
    verdict froze): a recurring eval-decontamination pipeline re-selects
    the reference corpus's MOSS fingerprints on every
    :func:`winnow_overlap_between` call although the reference didn't
    change. Writes

    ``<path>/fps/``  (id, pos0, fp) — the winnowed selections
                     (:func:`winnow_fingerprints`; per-doc independent,
                     so append-sound), and
    ``<path>/winnow_index.json``  the frozen (k, window) — the probe
                     side derives ITS selections from these, so both
                     sides always select alike.

    :func:`winnow_overlap_against_index` is then value-identical to
    :func:`winnow_overlap_between` with the reference as the stored
    side (same selection body). Growable: every stored row derives from
    its document alone under the frozen geometry, so
    :func:`refresh_winnow_index` appends the tail — reference O8
    catch-up (``updateIndexFromLastId``, ``db/db.go:191-207``)."""
    import os as _os

    winnow_fingerprints(df, id_col, text_col, k, window).write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "fps"))
    meta = {
        "id_col": id_col,
        "text_col": text_col,
        "k": int(k),
        "window": int(window),
        "max_id": json_id(df.agg(F.max(F.col(id_col))).collect()[0][0]),
    }
    write_sidecar(_os.path.join(path, "winnow_index.json"), meta)
    return meta


def refresh_winnow_index(
    df: DataFrame,
    path: str,
    advance_to=None,
    *,
    batch=None,
) -> dict:
    """Catch-up for the at-rest winnow reference index — the MOSS member
    of the engine-wide O8 rule: documents with ``id > meta.max_id`` are
    fingerprinted through the SIDECAR-frozen (k, window) (the same
    :func:`winnow_fingerprints` body the build uses) and appended —
    row-identical to a from-scratch build over the union. Single-table
    artifact, one crash window: a replay anti-joins the tail against
    ids already above the watermark (id-column-only, predicate-pushed
    scan). Sub-``k``-char docs select nothing but still advance the
    watermark (``max_id`` covers the full batch — the family-wide
    discipline). ``advance_to`` floors the flip for screen-and-drop
    callers. ``batch`` is the id range an insert just wrote
    (:func:`~kaer_spark.operators.util.open_refresh`)."""
    import os as _os

    meta = read_winnow_index_meta(path)
    icol = meta["id_col"]
    fps_dir = _os.path.join(path, "fps")
    _, tail, new_max, guard = open_refresh(
        df, path, "winnow_index.json", meta, fps_dir, "id", advance_to, batch
    )
    if new_max is None:
        return meta
    tail = guard(tail, icol, fps_dir, "id")
    winnow_fingerprints(
        tail, icol, meta["text_col"], meta["k"], meta["window"]
    ).write.mode("append").parquet(fps_dir)
    return flip_watermark(path, "winnow_index.json", meta, new_max, advance_to)


def read_winnow_index_meta(path: str) -> dict:
    import os as _os

    return read_sidecar(_os.path.join(path, "winnow_index.json"))


def winnow_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
) -> DataFrame:
    """Health report for the at-rest winnow reference index — the stats
    twin landing in the same round as its artifact (the frozen family
    template): one summary row from the fps table alone —

    * ``n_docs`` / ``n_fp_rows`` / ``n_distinct_fps`` — fingerprinted
      documents, stored selections, distinct fingerprint values
      (selection density ≈ ``2/(window+1)`` of windows when healthy);
    * ``max_bucket`` / ``bucket_skew`` / ``p50_bucket_sz`` /
      ``p90_bucket_sz`` — the per-fingerprint posting histogram: a hot
      fingerprint is a corpus-duplicated passage (boilerplate headers/
      licenses), a skewed join partition on every screen, AND the rows
      the ``min_shared`` cut spends its budget on — visible here before
      it's visible as screen latency;
    * ``p50_doc_fps`` / ``p90_doc_fps`` / ``max_doc_fps`` — per-doc
      selection spread (length proxy at fixed density);
    * ``k`` / ``window`` — sidecar geometry echo;
    * ``watermark`` (+ ``watermark_lag`` / ``is_stale`` with
      ``corpus``, typed by the id domain).

    REBUILD/REFRESH TRIGGER (documented policy): refresh per ingest
    (:func:`refresh_winnow_index` is tail-bound). Persistent
    ``bucket_skew`` growth means duplicated passages are accumulating —
    run the passage-removal transform upstream, or raise ``min_shared``
    at serve time; geometry (k, window) changes are a rebuild.

    Scale note: bucket quantiles rank one row per distinct fingerprint,
    doc quantiles one row per document, both via two-level rank
    selection (``util.global_ranked`` — bit-exact, no single-reducer
    sort)."""
    import os as _os

    meta = read_winnow_index_meta(path)
    fps = read_parquet(spark, _os.path.join(path, "fps"))
    buckets = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("bc"))
        # three-consumer frame: the aggregate, the rank sample and its shuffle
        .localCheckpoint(eager=False)
    )
    bstats = buckets.agg(
        F.count("*").alias("n_distinct_fps"),
        F.sum("bc").cast("long").alias("n_fp_rows"),
        F.max("bc").cast("long").alias("max_bucket"),
    )
    sel_b = ranked_quantiles(
        buckets, ["bc", "fp"], bstats, "n_distinct_fps",
        "p50_bucket_sz", "p90_bucket_sz",
    )
    # three-consumer frame: the aggregate, the rank sample and its shuffle
    sizes = fps.groupBy("id").agg(F.count("*").alias("sz")).localCheckpoint(
        eager=False
    )
    szstats = sizes.agg(
        F.count("*").alias("n_docs"),
        F.max("sz").cast("long").alias("max_doc_fps"),
    )
    sel_s = ranked_quantiles(
        sizes, ["sz", "id"], szstats, "n_docs", "p50_doc_fps", "p90_doc_fps",
    )
    out = (
        szstats.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(sel_b))
        .crossJoin(F.broadcast(sel_s))
        .withColumn(
            "bucket_skew",
            (F.col("max_bucket") * F.col("n_distinct_fps")).cast("double")
            / F.col("n_fp_rows"),
        )
        .withColumn("k", F.lit(int(meta["k"])).cast("long"))
        .withColumn("window", F.lit(int(meta["window"])).cast("long"))
    )
    return watermark_health_cols(
        out, meta.get("max_id"), corpus, corpus_id_col or meta["id_col"]
    )


def winnow_overlap_against_index(
    spark,
    path: str,
    left: DataFrame,
    left_id_col: str = "doc_id",
    text_col: str | None = None,
    min_shared: int = 2,
) -> DataFrame:
    """:func:`winnow_overlap_between` with the RIGHT side served from the
    at-rest artifact of :func:`build_winnow_index` — value-identical to
    the from-text cross call with the built reference as the stored side
    (geometry from the sidecar, selection body shared, so the two paths
    cannot select differently). Returns ``(left_id, right_id,
    n_shared)``; the call pays only the probe side's winnowing plus the
    fingerprint equi-join (kernel :func:`_winnow_overlap`, cross form) —
    the reference's selections read straight off parquet."""
    import os as _os

    meta = read_winnow_index_meta(path)
    lsel = winnow_fingerprints(
        left, left_id_col, text_col or meta["text_col"], meta["k"], meta["window"]
    )
    return _winnow_overlap(
        _winnow_fps(lsel),
        min_shared,
        _winnow_fps(read_parquet(spark, _os.path.join(path, "fps"))),
    )


def remove_duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite each document with its corpus-duplicated PASSAGES excised —
    the transform completing :func:`duplicate_passages`' report (Lee et
    al. 2022 §3: remove one exact-substring occurrence class, here at
    fixed window granularity). Every ``length``-char window whose CONTENT
    occurs in ``min_docs``+ distinct documents marks its span for
    removal; overlapping/adjacent flagged spans merge per document
    (:func:`_excise_spans`), and the surviving gaps reassemble in order.
    Output: ``(id_col, text_clean, n_spans, n_chars_removed)`` — docs
    with nothing flagged (or shorter than ``length``) pass through with
    ``text_clean = text``.

    This transform DESTROYS text, so every fingerprint-flagged window is
    re-checked by exact content equality before excision
    (:func:`_flagged_verified_self`): a fingerprint collision can never
    delete non-duplicate text.

    Scale shape: the window fingerprints explode once (O(chars) rows,
    same envelope as the report), duplicated fps come from the same
    map-side-combined distinct count (single-distinct — no Expand, see
    duplicate_passages), flagged spans join back LEFT SEMI on fp, the
    verification recounts only the candidate mass by content, and the
    merge/rebuild runs on the id partitioning with no UDF and no
    collect.
    """
    if length <= 0:
        raise ValueError("length must be positive")
    flagged = _flagged_verified_self(df, id_col, text_col, length, min_docs)
    return _excise_spans(df, flagged, id_col, text_col, length)


# ---------------------------------------------------------------------------
# Cross-corpus passage contamination (report + excision)
# ---------------------------------------------------------------------------
def passage_overlap_between(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
) -> DataFrame:
    """Per LEFT document: what fraction of its ``length``-char windows
    appears VERBATIM somewhere in the RIGHT corpus →
    ``(left_id_col, n_windows, n_flagged, flagged_fraction)``.

    This is `overlap_fraction`'s exact-substring sibling at character-
    window granularity — the eval-contamination / memorization-risk
    report when token n-grams are too coarse (code, multilingual text,
    whitespace-mangled copies). Only left docs long enough to hold a
    window appear (the report is per analyzable doc, matching
    duplicate_passages' skip rule).

    Fingerprint hits are re-checked by exact window content
    (:func:`_flagged_verified_against`), so "verbatim" means verbatim —
    the count can never inflate from fingerprint collisions (the
    paired-moduli fold makes those ~2^-60-rate per pair, but a
    contamination REPORT should not carry a caveat).

    Scale shape: both corpora explode their window fingerprints once;
    the RIGHT side collapses to DISTINCT fps (map-side combined) before
    a LEFT SEMI probe — the training corpus is never broadcast and never
    carried past its distinct set; verification re-explodes the right
    side bounded LEFT SEMI to candidate fingerprints. Two hash
    aggregates on the left id finish the rates. Everything linear in
    corpus chars.
    """
    L = int(length)
    # per-doc window totals are pure arithmetic — no explode needed
    totals = left.filter(F.length(text_col) >= L).select(
        F.col(left_id_col).alias("id"),
        (F.length(text_col) - L + 1).cast("long").alias("n_windows"),
    )
    hits = _flagged_verified_against(
        left, right, left_id_col, right_id_col, text_col, length
    )
    flagged = hits.groupBy("id").agg(F.count("*").alias("n_flagged"))
    return (
        totals.join(flagged, "id", "left")
        .select(
            F.col("id").alias(left_id_col),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
            (
                F.coalesce("n_flagged", F.lit(0)).cast("double")
                / F.col("n_windows")
            ).alias("flagged_fraction"),
        )
    )


def remove_duplicate_passages_against(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str = "doc_id",
    right_id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
) -> DataFrame:
    """Rewrite LEFT documents with every passage that appears verbatim in
    the RIGHT corpus excised — passage-level decontamination (strip eval
    answers from a crawl, or known boilerplate given a reference corpus),
    completing :func:`passage_overlap_between`'s report the way
    :func:`remove_duplicate_passages` completes :func:`duplicate_passages`.
    Output: ``(left_id_col, text_clean, n_spans, n_chars_removed)`` over
    every LEFT row.

    Destructive, so every fingerprint hit is re-checked by exact window
    content before excision (:func:`_flagged_verified_against`): a
    collision can never cut text that is not literally present in the
    right corpus.

    Same scale envelope as the report plus the shared gaps-and-islands
    excision (:func:`_excise_spans`): linear explodes, DISTINCT-collapsed
    right side probed LEFT SEMI (verification re-explodes the right side
    bounded to candidate fingerprints), merge/rebuild on the id
    partitioning.
    """
    flagged = _flagged_verified_against(
        left, right, left_id_col, right_id_col, text_col, length
    )
    return _excise_spans(left, flagged, left_id_col, text_col, length)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via k-means-style cells + within-cell cosine
# ---------------------------------------------------------------------------
def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: int = 8,
    threshold: float = 0.95,
    keep: str = "far",
    whiten: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings into cells, find
    near-duplicate groups by pairwise cosine WITHIN each cell, and keep
    one member per group → per-embedding verdict
    ``(id_col, cell, cluster_id, keep)`` (``cluster_id`` null for
    unduplicated rows, ``keep`` false only for dropped duplicates).

    ``keep="far"`` keeps the member FARTHEST from its cell centroid (the
    paper's policy — near-centroid points are the prototypical/redundant
    ones; keeping the outlier preserves diversity), ties to min id;
    ``keep="min_id"`` is the deterministic baseline.

    Built entirely from verified pieces: deterministic spread-fit
    centroids + argmin assignment (operators.similarity — zero Lloyd
    iterations, so the whole flow is SQL-replayable unlike k-means),
    cell-blocked :func:`embedding_near_dups` (the quadratic stage is
    bounded per cell — ``cells`` is the knob that caps within-cell pair
    work, exactly the paper's design), :func:`dedup_clusters` closure,
    and :func:`cluster_representatives` for the keep policy. Scale: the
    corpus shuffles once on the cell key for the pair join; centroids are
    a ``cells``-row driver list broadcast into expressions; nothing else
    is collected.

    ``whiten=k`` first projects every embedding onto the corpus's top-k
    whitened principal axes (:func:`kaer_spark.operators.pca.pca_whiten`)
    and runs the whole pipeline in that k-dim space — decorrelated,
    unit-variance coordinates, so one dominant raw dimension can no
    longer drown the cosine (the preprocessing SemDeDup-style pipelines
    apply before clustering). Adds one bounded moments pass; the
    projection itself is scan-shaped codegen.
    """
    if keep not in ("far", "min_id"):
        raise ValueError(f"keep must be 'far' or 'min_id', got {keep!r}")
    from kaer_spark.functions.vector import l2sq
    from kaer_spark.operators.similarity import (
        ivf_assign_deterministic,
        ivf_fit_spread,
    )

    if whiten is not None:
        from kaer_spark.operators.pca import pca_whiten

        proj = pca_whiten(df, int(whiten), vec_col=vec_col)
        df = proj.withColumn(
            vec_col,
            F.array(*[F.col(f"p{i}") for i in range(int(whiten))]),
        ).drop(*[f"p{i}" for i in range(int(whiten))])

    cents = ivf_fit_spread(df, vec_col=vec_col, id_col=id_col, cells=cells)
    assigned = ivf_assign_deterministic(df, cents, vec_col)
    pairs = embedding_near_dups(
        assigned, id_col=id_col, vec_col=vec_col,
        threshold=threshold, block_col="_cell",
    )
    clusters = dedup_clusters(pairs)
    if keep == "far":
        dists = F.array(*[l2sq(vec_col, c) for c in cents])
        scored = assigned.withColumn(
            "_cdist", F.element_at(dists, F.col("_cell") + 1)
        )
        reps = cluster_representatives(
            scored, clusters, id_col=id_col, score_col="_cdist"
        )
    else:
        reps = cluster_representatives(assigned, clusters, id_col=id_col)
    labeled = (
        assigned.select(
            F.col(id_col), F.col("_cell").cast("long").alias("cell")
        )
        .join(
            clusters.select(
                F.col("id").alias(id_col), F.col("cluster_id")
            ),
            id_col,
            "left",
        )
        .join(reps.select("cluster_id", "kept_id"), "cluster_id", "left")
    )
    return labeled.select(
        F.col(id_col),
        F.col("cell"),
        F.col("cluster_id"),
        (
            F.col("cluster_id").isNull()
            | (F.col(id_col) == F.col("kept_id"))
        ).alias("keep"),
    )


def dedup_cluster_stats(clusters: DataFrame) -> DataFrame:
    """One-row audit of a dedup clustering — the numbers an ops review
    asks before committing a removal: how many duplicate groups, how many
    documents they cover, how many rows a dedup would delete, and whether
    one mega-cluster dominates (a giant cluster usually means boilerplate
    or a degenerate banding threshold, not true duplication). Output:
    ``(n_clusters, n_docs_clustered, n_duplicates, max_size,
    largest_cluster, mean_size)`` with the largest-cluster tie broken to
    the smallest cluster id and the mean accumulated in exact DECIMAL
    (order-independent, oracle-exact).

    Input is any ``(id, cluster_id)`` table (:func:`dedup_clusters`,
    :func:`semdedup`'s clustered rows, ...). Two hash aggregates, both
    map-side combined; nothing collected.
    """
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_clusters"),
        F.sum("sz").alias("n_docs_clustered"),
        (F.sum("sz") - F.count("*")).alias("n_duplicates"),
        F.max("sz").alias("max_size"),
        F.min_by(
            "cluster_id", F.struct((-F.col("sz")).alias("neg"), F.col("cluster_id"))
        ).alias("largest_cluster"),
        (
            F.sum(F.col("sz").cast("decimal(28,2)")).cast("double")
            / F.count("*")
        ).alias("mean_size"),
    )


# --- Content-defined chunking (CDC) ----------------------------------------


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunks per document: ``(id, chunk_idx,
    chunk_start, chunk_len, chunk_fp)`` — Rabin-style CDC (the
    LBFS/rsync/storage-dedup primitive): a chunk boundary falls AFTER any
    ``w``-char window whose rolling fingerprint ≡ 0 mod ``divisor``, so
    expected chunk length ≈ ``divisor`` chars and — the whole point —
    boundaries are a function of LOCAL content: an insertion or deletion
    re-synchronizes within one window instead of shifting every
    downstream boundary the way fixed-width blocks do. This is the
    dedup-by-parts primitive the fixed-window passage family can't give:
    re-crawled documents with small in-place edits share every chunk
    outside the edit region.

    Conventions (identical on the oracle side): windows are the same
    paired-moduli ~60-bit fingerprints as the passage/winnowing family
    (:func:`~kaer_spark.functions.fphash.window_fps_col`); cut offsets
    are window-end positions (``j + w`` for 0-based window start ``j``);
    0 and ``len(text)`` are always boundaries; documents shorter than
    ``w`` are one chunk; empty documents contribute nothing.
    ``chunk_fp`` is the paired Horner fold of the chunk's codepoints
    (~60 collision bits).

    Scale shape: the window-hash array comes from one Arrow UDF per row
    and reduces to the row's boundary array in the same projection;
    chunk spans are per-row array expressions; ONE posexplode emits
    chunks; the chunk fold visits each character once per modulus over
    Spark's per-row codepoint array (the same code points the UDF reads).
    Nothing shuffles — downstream dedup keys on the int64 ``chunk_fp``."""
    W, D = int(w), int(divisor)
    if W < 2 or D < 2:
        raise ValueError("w and divisor must be >= 2")
    fps = window_fps_col(
        text_col, W, HASH_BASE, HASH_MOD, HASH_BASE2, HASH_MOD2
    )
    cuts = F.array_compact(
        F.transform(fps, lambda h, j: F.when(h % D == 0, (j + W).cast("long")))
    )
    codes = F.transform(
        F.split(F.col(text_col), ""), lambda ch: F.ascii(ch).cast("long")
    )
    n = F.length(text_col).cast("long")
    bounds = F.array_distinct(
        F.concat(F.array(F.lit(0).cast("long")), cuts, F.array(n))
    )
    base = ensure_parallelism(df.filter(F.length(text_col) > 0)).select(
        F.col(id_col).alias("id"), codes.alias("__codes"), bounds.alias("__b")
    )
    spans = F.transform(
        F.sequence(F.lit(0), F.size("__b") - 2),
        lambda j: F.struct(
            F.element_at("__b", j + 1).alias("s"),
            (F.element_at("__b", j + 2) - F.element_at("__b", j + 1)).alias(
                "len"
            ),
        ),
    )
    ch = base.select(
        "id", "__codes", F.posexplode(spans).alias("chunk_idx", "c")
    )
    chunk_codes = F.slice(
        "__codes", F.col("c.s").cast("int") + 1, F.col("c.len").cast("int")
    )
    h1 = F.aggregate(
        chunk_codes,
        F.lit(0).cast("long"),
        lambda a, x: (a * HASH_BASE + x) % HASH_MOD,
    )
    h2 = F.aggregate(
        chunk_codes,
        F.lit(0).cast("long"),
        lambda a, x: (a * HASH_BASE2 + x) % HASH_MOD2,
    )
    return ch.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.s").alias("chunk_start"),
        F.col("c.len").alias("chunk_len"),
        (h1 * F.lit(HASH_MOD2) + h2).alias("chunk_fp"),
    )


def cdc_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """ONE-ROW corpus chunk-dedup accounting over :func:`cdc_chunks`:
    ``(n_chunks, n_distinct_chunks, total_chars, distinct_chars,
    dedup_ratio)`` where ``dedup_ratio = 1 − distinct/total`` chars — the
    content-addressed-store compression number, and at corpus scale the
    honest upper bound on how much of the corpus is re-crawled/boiler-
    plated content that survives small edits. One int64-keyed shuffle
    (groupBy chunk_fp, map-side combinable) then a scalar fold."""
    per_fp = (
        cdc_chunks(df, id_col, text_col, w, divisor)
        .groupBy("chunk_fp")
        .agg(F.count("*").alias("cnt"), F.max("chunk_len").alias("clen"))
    )
    return per_fp.agg(
        F.sum("cnt").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).alias("total_chars"),
        F.sum("clen").alias("distinct_chars"),
        (
            F.lit(1.0)
            - F.sum("clen").cast("double")
            / F.sum(F.col("cnt") * F.col("clen")).cast("double")
        ).alias("dedup_ratio"),
    )
