"""Materialized inverted text index: posting lists + BM25 top-k search.

Completes the retrieval story next to the vector index (``index_store``):
the reference serves only embedding kNN, but a corpus engine also needs
term search — sampling exemplars by keyword, debugging dedup clusters,
powering the BM25 relevance cut without re-tokenizing the corpus per
query. The index is a plain parquet layout, so the same recovery story
as everything else (atomic sidecar, no daemon):

``<path>/postings/``   (term, id, tf, positions) partitioned by
                       ``bucket`` = pmod(polyhash(term), n_buckets) —
                       query terms map to buckets DRIVER-SIDE, so a
                       search reads only the matching partitions
                       (partition pruning, same trick as the IVF cell
                       directory). ``positions`` (sorted 0-based token
                       offsets) makes it a POSITIONAL index: exact
                       phrase search without re-tokenizing the corpus
                       (``search_phrase``).
``<path>/doclens/``    (id, dl) — per-doc token counts for BM25 length
                       normalization.
``<path>/index.json``  {n_docs, sum_dl, n_buckets, ...} corpus stats,
                       advanced by every refresh.

Search scores with EXACTLY ``ranking.bm25_scores``' arithmetic (rational
idf, fixed left-assoc term order), so for any query the index path
returns the same doubles as the scan path restricted to docs holding at
least one term — which is what makes the driver oracle a plain SQL
replay over raw documents.

Scale: build is one explode + one (term, id) aggregate + one id
aggregate (all map-side combined). Search reads O(postings of the query
terms): per-term document frequencies come from the pruned postings
themselves, the per-term stats broadcast, and the final top-k plans as
TakeOrderedAndProject. df(t) at search time reflects the CURRENT
postings, N/avgdl come from the sidecar.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaer_spark.functions.fphash import HASH_BASE, HASH_MOD
from kaer_spark.functions.text import tokens
from kaer_spark.operators.util import (
    above_watermark,
    batch_tail,
    ensure_parallelism,
    first_fill,
    flip_watermark,
    ranked_quantiles,
    reset_index,
    unindexed,
    watermark_health_cols,
)
from kaer_spark.sources.files import read_parquet, read_sidecar

META_FILE = "index.json"
POSTINGS_DIR = "postings"
DOCLENS_DIR = "doclens"
K1_DEFAULT = 1.2
B_DEFAULT = 0.75
# pruned-postings size above which the candidate side is no longer
# broadcast into doclens (well under Spark's 8 GB broadcast hard cap,
# with headroom for the pivoted row being wider than its parquet bytes)
BROADCAST_POSTINGS_BYTES = 64 << 20


def _pruned_postings_bytes(path: str, buckets: list[int]) -> int:
    """On-disk bytes of exactly the posting buckets a search will scan —
    the driver-side stat that gates the candidate-side broadcast (same
    listing the partition-pruned scan itself performs; no Spark job)."""
    total = 0
    base = os.path.join(path, POSTINGS_DIR)
    for b in buckets:
        d = os.path.join(base, f"bucket={b}")
        if not os.path.isdir(d):
            continue
        for root, _dirs, files in os.walk(d):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    return total


def py_term_hash(term: str) -> int:
    """Driver-side twin of the engine's polynomial char hash (int64-exact,
    ASCII-codepoint fold) — used to map query terms to their posting
    buckets without touching the cluster."""
    acc = 0
    for ch in term:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


def _term_hash_col(col):
    codes = F.transform(
        F.split(col, ""), lambda ch: F.ascii(ch).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )


def build_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> dict:
    """Materialize the inverted index for ``df`` at ``path``: reset it
    (:func:`~kaer_spark.operators.util.reset_index`) and fill it through
    :func:`refresh_text_index`.

    Tokenization is the engine-wide whitespace split, lowercased — the
    same definition as ``bm25_scores``/``token_count``, so index-path and
    scan-path scores agree bit-for-bit.
    """
    reset_index(path, META_FILE, [POSTINGS_DIR, DOCLENS_DIR], {
        "n_docs": 0,
        "sum_dl": 0,
        "max_id": None,
        "n_buckets": int(n_buckets),
        "id_col": id_col,
        "text_col": text_col,
        "positional": True,
    })
    return refresh_text_index(df, path)


def refresh_text_index(df: DataFrame, path: str, *, batch=None) -> dict:
    """Catch-up (the text twin of ``index_store.refresh_ivf_index``,
    reference O8's ``updateIndexFromLastId``): index only documents with
    ``id > meta.max_id`` — postings and doc lengths APPEND (each new doc
    contributes disjoint (term, id) rows, so existing postings never
    rewrite), and the frozen corpus stats advance incrementally
    (``n_docs += batch``, ``sum_dl += batch``). Idempotent against EVERY
    crash window, not just a clean re-call: a second call with no new
    docs is a no-op per the watermark; a replay after a crash between the
    two appends and the meta update anti-joins away the doc ids already
    in the doc-length table (no duplicate postings, stats healed); and a
    replay after a crash BETWEEN the postings append and the doc-length
    append (the write order here: postings land first) anti-joins the
    postings append itself against the (term-agnostic) ids already in the
    postings table above the watermark — without that second guard the
    orphaned docs' (term, id) rows would append twice, doubling tf AND df
    in ``search_text_index`` (which assumes distinct postings rows) —
    while still appending their missing doc-length rows and counting
    their stats (the re-derived rows are deterministic: same tokenizer,
    same text). Per-term document frequencies need no maintenance at all
    — search derives them from the pruned postings at query time, so
    they are always current.

    ``batch`` (keyword-only) is the id range an insert just wrote. On the
    clean path (:func:`~kaer_spark.operators.util.batch_tail`) nothing
    above the watermark is on disk, so both replay guards are skipped."""
    meta = read_text_index_meta(path)
    id_col, text_col = meta["id_col"], meta["text_col"]
    wm = meta["max_id"]
    tail = batch_tail(df, meta, batch)
    clean = tail is not None
    if not clean:
        # max_id None = nothing indexed yet: index the whole DataFrame
        # rather than comparing against a numeric sentinel (which fails or
        # silently casts for non-numeric id columns build_text_index
        # accepts)
        tail = above_watermark(df, id_col, wm)
    # Replay guard: doc-length rows with id above the watermark are docs a
    # crashed refresh already appended but never accounted — exclude them
    # from the tail (no duplicate postings) and fold their (n, dl) back
    # into the stats increment (heals the understated n_docs/sum_dl).
    acc_n, acc_sumdl, acc_maxid = 0, 0, None
    doclens_dir = os.path.join(path, DOCLENS_DIR)
    if not clean and os.path.isdir(doclens_dir):
        acc = above_watermark(
            read_parquet(df.sparkSession, doclens_dir), "id", wm
        ).agg(
            F.count("*").alias("n"),
            F.sum("dl").alias("sumdl"),
            F.max("id").alias("maxid"),
        ).collect()[0]
        if acc["n"]:
            acc_n, acc_sumdl = int(acc["n"]), int(acc["sumdl"] or 0)
            acc_maxid = acc["maxid"]
            tail = unindexed(tail, id_col, doclens_dir, wm, "id")
    toks = tail.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), F.lower).alias("__toks"),
    )
    stats = toks.select(
        F.size("__toks").cast("long").alias("dl"), "id"
    ).agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sumdl"),
        F.max("id").alias("maxid"),
    ).collect()[0]
    if not stats["n"] and not acc_n and not first_fill(wm, doclens_dir):
        return meta  # nothing to replay
    meta["n_docs"] += int(stats["n"]) + acc_n
    meta["sum_dl"] += int(stats["sumdl"] or 0) + acc_sumdl
    new_max = stats["maxid"]
    if acc_maxid is not None and (new_max is None or acc_maxid > new_max):
        new_max = acc_maxid
    if acc_n and not stats["n"]:  # pure replay: all on disk — heal meta
        return flip_watermark(path, META_FILE, meta, new_max)
    aggs = [F.count("*").cast("long").alias("tf")]
    if meta.get("positional"):
        aggs.append(
            F.sort_array(
                F.collect_list(F.col("pos").cast("int"))
            ).alias("positions")
        )
    # Second replay guard, for the OTHER crash window: postings append
    # BEFORE doclens below, so a crash between the two leaves (term, id)
    # rows above the watermark with no doclens row — invisible to the
    # doclens guard above. Exclude those docs from the postings append
    # ONLY (their rows already landed); their doclens rows and stats
    # still flow through `toks`. In the no-crash case the filtered read
    # returns zero rows (row-group stats prune at id > watermark) and the
    # anti-join is a no-op.
    postings_dir = os.path.join(path, POSTINGS_DIR)
    toks_postings = ensure_parallelism(
        toks if clean else unindexed(toks, "id", postings_dir, wm)
    )
    # an index built before the positional layout keeps appending the
    # (term, id, tf) shape it was built with — mixed parquet schemas in
    # one postings dir would make reads schema-dependent on file order
    postings = (
        toks_postings.select("id", F.posexplode("__toks").alias("pos", "term"))
        .groupBy("term", "id")
        .agg(*aggs)
        .withColumn(
            "bucket",
            F.pmod(_term_hash_col(F.col("term")), F.lit(meta["n_buckets"])),
        )
    )
    postings.write.mode("append").partitionBy("bucket").parquet(postings_dir)
    toks.select("id", F.size("__toks").cast("long").alias("dl")).write.mode(
        "append"
    ).parquet(doclens_dir)
    return flip_watermark(path, META_FILE, meta, new_max)


def text_index_stats(
    spark,
    path: str,
    corpus: "DataFrame | None" = None,
    corpus_id_col: str | None = None,
) -> "DataFrame":
    """Health report for the at-rest positional text index — the BM25
    member of the r15 index-observability set (``ivf_index_stats`` /
    ``pq_index_stats`` / ``shingle_index_stats``): one summary row from
    the index tables alone.

    * ``n_docs`` / ``n_postings`` / ``n_terms`` — corpus, posting-list
      mass (the per-query scan cost driver), vocabulary size;
    * ``p50_df`` / ``p90_df`` / ``max_df`` — document-frequency skew at
      rank-based type-1 quantiles (bit-exact replayable): a fat head
      means query terms hit ever-longer posting lists;
    * ``p50_dl`` / ``p90_dl`` / ``max_dl`` — doclen distribution (BM25's
      length normalization input);
    * ``bucket_skew`` — max term-hash bucket's posting share vs the
      balanced design point (``max_bucket × n_buckets / total``): the
      postings are partitioned by term-hash bucket, so a skewed bucket
      is a skewed partition on every indexed search;
    * ``watermark`` (+ ``watermark_lag`` with ``corpus``) — staleness.

    REFRESH/REBUILD TRIGGER (documented policy): refresh per ingest
    (``refresh_text_index`` is tail-bound); re-bucket (rebuild with a
    larger ``n_buckets``) when ``bucket_skew`` grows past ~2 — the hash
    is content-agnostic, so persistent skew means the bucket count is
    too small for the vocabulary, not that the hash went bad.

    Scale note: the df quantiles rank ONE ROW PER TERM
    (vocabulary-sized, not posting-sized), the dl quantiles one row per
    document — both via two-level rank selection (``util.global_ranked``:
    range-partitioned per-partition ranks + partition offsets, bit-exact,
    no single-reducer sort)."""
    meta = read_text_index_meta(path)
    postings = read_parquet(spark, os.path.join(path, POSTINGS_DIR))
    doclens = read_parquet(spark, os.path.join(path, DOCLENS_DIR))
    # localCheckpoint (lazy): tdf feeds two consumers (stats, the rank
    # branch) and would otherwise re-aggregate the postings per branch
    tdf = postings.groupBy("term").agg(F.count("*").alias("df")).localCheckpoint(
        eager=False
    )
    dfstats = tdf.agg(
        F.count("*").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.max("df").cast("long").alias("max_df"),
    )
    sel_df = ranked_quantiles(
        tdf, ["df", "term"], dfstats, "n_terms", "p50_df", "p90_df",
    )
    dlstats = doclens.agg(
        F.count("*").alias("n_docs"), F.max("dl").cast("long").alias("max_dl")
    )
    sel_dl = ranked_quantiles(
        doclens, ["dl", "id"], dlstats, "n_docs", "p50_dl", "p90_dl",
    )
    bmax = (
        postings.groupBy("bucket")
        .agg(F.count("*").alias("bc"))
        .agg(F.max("bc").alias("max_bucket"))
    )
    out = (
        dlstats.crossJoin(F.broadcast(dfstats))
        .crossJoin(F.broadcast(sel_df))
        .crossJoin(F.broadcast(sel_dl))
        .crossJoin(F.broadcast(bmax))
        .withColumn(
            "bucket_skew",
            (F.col("max_bucket") * F.lit(int(meta["n_buckets"]))).cast(
                "double"
            )
            / F.col("n_postings"),
        )
        .drop("max_bucket")
    )
    return watermark_health_cols(
        out, meta["max_id"], corpus, corpus_id_col or meta["id_col"]
    )


def read_text_index_meta(path: str) -> dict:
    return read_sidecar(os.path.join(path, META_FILE))


def search_text_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """BM25 top-``k`` over the materialized index → ``(id, bm25)``,
    descending score, ties to min id. Only documents containing at least
    one query term are candidates (docs with none score 0 by definition
    and are never read).

    Plan: the query terms' buckets are computed driver-side and pushed as
    a partition filter (the scan touches only those directories); the
    pruned postings pivot into one per-candidate-doc row of per-term tfs
    (one hash aggregate) and the per-term document frequencies collapse
    to a single broadcast row — so the join against the corpus-sized
    doclens table BROADCASTS the candidate side whenever the pruned
    postings' on-disk bytes are provably small (doclens never shuffles;
    at 100 TB doclens is corpus-sized while the candidates are bounded
    by the query terms' postings, the quantity this index exists to keep
    small), and degrades to a plain AQE-planned join for stop-word-ish
    queries whose postings approach corpus size rather than forcing an
    over-limit broadcast. The fixed-order score sum (declared term order,
    left-assoc,
    missing terms an exact +0.0) feeds a TakeOrderedAndProject —
    bit-identical to ``ranking.bm25_scores`` on the same corpus.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    terms = [t.lower() for t in terms]
    meta = read_text_index_meta(path)
    doclens = read_parquet(spark, os.path.join(path, DOCLENS_DIR))
    if meta["n_docs"] == 0:
        # empty index is a supported state (build before first insert):
        # no candidates by definition — id column keeps the corpus type
        return doclens.select(
            "id", F.lit(0.0).alias("bm25")
        ).limit(0)
    buckets = sorted({py_term_hash(t) % meta["n_buckets"] for t in terms})
    postings = (
        read_parquet(spark, os.path.join(path, POSTINGS_DIR))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    n = float(meta["n_docs"])
    avgdl = float(meta["sum_dl"]) / n
    # postings rows are distinct (term, id): df(t) = row count per term,
    # folded into ONE broadcast row of per-term frequencies
    pstats = postings.agg(
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"__df{i}")
            for i, t in enumerate(terms)
        ]
    )
    # pivot the candidate postings to one row per doc (per-term tfs);
    # NULL tf = doc lacks the term (contributes exact +0.0 below)
    per_doc = postings.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf"))).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    # join the bounded candidate side into the corpus-sized doclens:
    # broadcast when the pruned postings are provably small (a driver-side
    # stat of exactly the bucket files the scan will read — no job), so
    # doclens never shuffles on the common path; a stop-word-ish query
    # whose postings approach corpus size must NOT be forced through the
    # 8 GB broadcast limit — it falls back to a plain join and lets AQE
    # pick the strategy from runtime sizes
    per_doc_side = (
        F.broadcast(per_doc)
        if _pruned_postings_bytes(path, buckets) <= BROADCAST_POSTINGS_BYTES
        else per_doc
    )
    cand = per_doc_side.join(doclens, "id").crossJoin(F.broadcast(pstats))
    norm = F.col("dl").cast("double") / F.lit(avgdl)
    total = None
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        df_t = F.col(f"__df{i}").cast("double")
        idf = (F.lit(n) - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        num = tf * F.lit(float(k1) + 1.0)
        denom = tf + F.lit(float(k1)) * (
            F.lit(1.0 - float(b)) + F.lit(float(b)) * norm
        )
        term_score = F.coalesce((idf * num) / denom, F.lit(0.0))
        total = term_score if total is None else total + term_score
    return (
        cand.select(F.col("id"), total.alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(k)
    )


def search_phrase(
    spark: SparkSession,
    path: str,
    phrase: str | list[str],
    k: int | None = None,
) -> DataFrame:
    """Exact-phrase search over the positional index → ``(id,
    n_occurrences)`` for every document containing the query tokens at
    CONSECUTIVE positions (occurrences may overlap, each start counts),
    optionally top-``k`` by (count desc, id asc).

    This is what the per-(term, doc) position lists exist for: phrase
    match without re-tokenizing the corpus. Plan shape mirrors
    ``search_text_index`` — query buckets prune the postings scan
    driver-side, the pruned postings pivot to ONE row per candidate doc
    (the position array of each distinct query term), docs missing any
    term drop at the pivot, and the consecutive-position test is a pure
    array expression (filter + array_contains over the first term's
    positions): no join against the corpus, no shuffle beyond the pivot's
    candidate-bounded aggregate. A single-token phrase degenerates to the
    term's tf."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    meta = read_text_index_meta(path)
    if not meta.get("positional"):
        raise ValueError(
            "index at %r predates the positional layout — rebuild with "
            "build_text_index to enable phrase search" % path
        )
    uterms = list(dict.fromkeys(terms))
    slot = {t: i for i, t in enumerate(uterms)}
    if meta["n_docs"] == 0:
        doclens = read_parquet(spark, os.path.join(path, DOCLENS_DIR))
        return doclens.select(
            "id", F.lit(0).cast("long").alias("n_occurrences")
        ).limit(0)
    buckets = sorted({py_term_hash(t) % meta["n_buckets"] for t in uterms})
    postings = (
        read_parquet(spark, os.path.join(path, POSTINGS_DIR))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(uterms))
    )
    # one row per candidate doc: the position array of each distinct
    # query term ((term, id) rows are unique, so first() is THE array)
    per_doc = postings.groupBy("id").agg(
        *[
            F.first(
                F.when(F.col("term") == t, F.col("positions")),
                ignorenulls=True,
            ).alias(f"__p{i}")
            for i, t in enumerate(uterms)
        ]
    )
    has_all = None
    for i in range(len(uterms)):
        c = F.col(f"__p{i}").isNotNull()
        has_all = c if has_all is None else has_all & c
    starts = F.filter(
        F.col(f"__p{slot[terms[0]]}"),
        lambda p: _consecutive(p, terms, slot),
    )
    out = (
        per_doc.filter(has_all)
        .select("id", F.size(starts).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )
    if k is not None:
        out = out.orderBy(
            F.col("n_occurrences").desc(), F.col("id").asc()
        ).limit(int(k))
    return out


def _consecutive(p, terms: list[str], slot: dict) -> "F.Column":
    """True iff a phrase occurrence starts at position ``p``: every later
    term's position list contains ``p + j``."""
    cond = F.lit(True)
    for j in range(1, len(terms)):
        cond = cond & F.array_contains(
            F.col(f"__p{slot[terms[j]]}"), p + F.lit(j)
        )
    return cond


def search_near(
    spark: SparkSession,
    path: str,
    terms: list[str] | str,
    slop: int = 2,
    k: int | None = None,
) -> DataFrame:
    """Ordered proximity search over the positional index → ``(id,
    n_matches)``: documents containing the query terms IN ORDER with at
    most ``slop`` extra tokens interleaved (total span ≤ len(terms) +
    slop). ``slop=0`` ≡ exact phrase.

    Match counting is per start position of the FIRST term, with the
    GREEDY chain: each later term takes its smallest position after the
    previous term's. Greedy-min is exact for existence (if any in-order
    chain fits the span, the greedy one does — each greedy pick is ≤ the
    alternative's, so the span never grows), and it makes the count a
    deterministic pure-array expression both engines replay. Plan shape
    identical to :func:`search_phrase`: driver-pruned buckets,
    candidate-bounded pivot, no corpus re-scan."""
    terms = terms.split() if isinstance(terms, str) else list(terms)
    terms = [t.lower() for t in terms if t]
    if len(terms) < 1:
        raise ValueError("terms must contain at least one token")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    meta = read_text_index_meta(path)
    if not meta.get("positional"):
        raise ValueError(
            "index at %r predates the positional layout — rebuild with "
            "build_text_index to enable proximity search" % path
        )
    uterms = list(dict.fromkeys(terms))
    slot = {t: i for i, t in enumerate(uterms)}
    if meta["n_docs"] == 0:
        doclens = read_parquet(spark, os.path.join(path, DOCLENS_DIR))
        return doclens.select(
            "id", F.lit(0).cast("long").alias("n_matches")
        ).limit(0)
    buckets = sorted({py_term_hash(t) % meta["n_buckets"] for t in uterms})
    postings = (
        read_parquet(spark, os.path.join(path, POSTINGS_DIR))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(uterms))
    )
    per_doc = postings.groupBy("id").agg(
        *[
            F.first(
                F.when(F.col("term") == t, F.col("positions")),
                ignorenulls=True,
            ).alias(f"__p{i}")
            for i, t in enumerate(uterms)
        ]
    )
    has_all = None
    for i in range(len(uterms)):
        c = F.col(f"__p{i}").isNotNull()
        has_all = c if has_all is None else has_all & c

    span = len(terms) + int(slop)  # max allowed end - start + 1

    def _next_after(arr, lo):
        # NB: a two-arg lambda here would be read by Spark as the
        # (element, index) filter form — keep it unary, close over lo
        return F.array_min(F.filter(arr, lambda x: x > lo))

    def match_at(p):
        prev = p
        for j in range(1, len(terms)):
            prev = _next_after(F.col(f"__p{slot[terms[j]]}"), prev)
        # NULL prev (chain broke) compares NULL -> filtered out
        return prev.isNotNull() & (prev - p <= F.lit(span - 1))

    starts = F.filter(F.col(f"__p{slot[terms[0]]}"), match_at)
    out = (
        per_doc.filter(has_all)
        .select("id", F.size(starts).cast("long").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )
    if k is not None:
        out = out.orderBy(
            F.col("n_matches").desc(), F.col("id").asc()
        ).limit(int(k))
    return out
