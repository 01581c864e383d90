"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship filtered-kNN on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
north-star extensions); each takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query key, computing the
identical values (all hash/distance arithmetic is plain int64/float64 math
reproduced literally on both engines; every computed column is aliased to
the same name on both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaer_spark.context import dense_ids
from kaer_spark.filters import compile_filter, filter_to_sql
from kaer_spark.functions.text import (
    BPE_PATTERN,
    FINGERPRINT_BASE as PB,
    FINGERPRINT_MOD as PM,
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    token_count,
)
from kaer_spark.functions.vector import cosine_similarity
from kaer_spark.operators.dedup import (
    HASH_BASE2 as PB2,
    HASH_MOD2 as PM2,
    SIMHASH_BITS,
    embedding_near_dups,
    embedding_near_dups_lsh,
    exact_dedup,
    ngram_jaccard_pairs,
    simhash,
)
from kaer_spark.operators.knn import exact_knn, knn_join
from kaer_spark.sources.files import read_parquet, write_sidecar

# ---------------------------------------------------------------------------
# fixed fixture constants (identical literals on both engines)
# ---------------------------------------------------------------------------
QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]  # deterministic dim-64
KNN_FILTER_EQ = {"lang": {"$eq": "de"}}
KNN_FILTER_AND = {
    "$and": [{"n_chars": {"$gt": 250}}, {"source": {"$in": ["src1", "src2", "src3"]}}]
}
FILTER_CASES = {
    "filter_in": {"source": {"$in": ["src1", "src2", "src3"]}},
    "filter_ne": {"lang": {"$ne": "en"}},
    "filter_range": {"n_chars": {"$gte": 200, "$lt": 400}},
    "filter_regex": {"text": {"$regex": "^the "}},
    "filter_mod": {"n_chars": {"$mod": [7, 3]}},
    "filter_or": {"$or": [{"lang": "zh"}, {"source": "src5"}]},
    "filter_nor": {"$nor": [{"lang": "en"}, {"lang": "fr"}]},
    "filter_not": {"lang": {"$not": {"$eq": "en"}}},
}
# schemaless metadata (kaer_spark.filters_json): ragged JSON built
# deterministically from documents — `src` present on 1/3 of rows, `flag`
# null on 1/5 and true on another 1/5, missing elsewhere. Exercises
# missing-vs-null, $exists, $type and type-bracketed comparisons end to end.
SCHEMALESS_CASES = {
    "schemaless_exists": {
        "src": {"$exists": True},
        "n": {"$gt": 500},
        "flag": {"$ne": True},
    },
    "schemaless_types": {
        "$or": [
            {"flag": {"$type": "null"}},
            {"$and": [{"src": {"$exists": False}}, {"n": {"$mod": [7, 3]}}]},
        ],
        "lang": {"$in": ["en", "de", "fr"]},
    },
}
JACCARD_N = 8
JACCARD_THRESHOLD = 0.4
# rare-shingle cap: shingles present in more docs carry no dedup signal but
# dominate the inverted join's sum(df²) pair work (561M → 5.7M at sf0.1)
JACCARD_MAX_DF = 100
# cross-corpus containment cut: lower than the self-pair 0.8 — the parity
# split separates near-identical doc pairs across the two sides, and the
# detector's point is the asymmetric (subset) relation
CONTAIN_BETWEEN_THRESHOLD = 0.6
MINHASH_HASHES = 16
MINHASH_BANDS = 4
# remove_duplicate_lines over the space-separated fixture corpus: token
# doc-frequencies cluster at ~373-402 of 500 docs (one rare outlier), so
# 390 removes roughly half the vocabulary and keeps the rest
LINE_DEDUP_MIN_DOCS = 390
# fixture embeddings are near-random (max within-label cosine ≈ 0.47), so the
# "near-dup" threshold is set where the fixture actually has matching pairs
COSINE_DUP_THRESHOLD = 0.35
# sign-LSH banding for the cosine dedup candidates: OR-of-ANDs over
# deterministic Rademacher planes; 2^bits buckets per band bounds per-bucket
# quadratic work at any corpus size (vs the old low-cardinality `label`
# blocking, which was O((N/10)²) at scale)
COSINE_LSH_BANDS = 4
COSINE_LSH_BITS = 4
COSINE_LSH_SEED = 7


# ---------------------------------------------------------------------------
# shared loaders
# ---------------------------------------------------------------------------
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    embs = _t(spark, sf_dir, "embeddings")
    # embeddings is 1:1 with documents (64 floats wide — the *larger* side at
    # scale), so neither side may be force-broadcast: a plain equi-join lets
    # AQE broadcast at toy SF and shuffle-hash/sort-merge on a cluster. For a
    # standing deployment, co-bucket both tables on the id (see
    # sources.files.write_bucketed; shuffle-free join plan-verified in
    # tests/test_sources.py) and this join needs no shuffle at all.
    return docs.join(embs, docs.doc_id == embs.vec_id, "inner").drop("vec_id")


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke, sf0.001)
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    corpus = _corpus(spark, "/root/testdata/sf0.001")
    return exact_knn(
        corpus,
        QVEC,
        k=10,
        vec_col="embedding",
        id_col="doc_id",
        filter={"$and": [{"lang": {"$ne": "zh"}}, {"n_chars": {"$gt": 100}}]},
    ).select("doc_id", "text", "lang", "source", "n_chars")


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------
def _q_knn(filt, k):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return exact_knn(
            _corpus(spark, sf_dir), QVEC, k, vec_col="embedding",
            id_col="doc_id", filter=filt,
        ).select("doc_id", "lang", "source", "n_chars")

    return run


def _q_filter(filt):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _t(spark, sf_dir, "documents")
            .filter(compile_filter(filt))
            .select("doc_id", "lang", "source")
        )

    return run


def _ragged_meta(docs: DataFrame) -> DataFrame:
    """Ragged JSON metadata column built from the documents fixture — the
    same byte-for-byte text the oracle constructs in SQL, so both engines
    parse identical documents."""
    meta = F.concat(
        F.lit('{"lang":"'),
        F.col("lang"),
        F.lit('","n":'),
        F.col("n_chars").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(',"src":"'), F.col("source"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(',"flag":null'))
        .when(F.col("doc_id") % 5 == 1, F.lit(',"flag":true'))
        .otherwise(F.lit("")),
        F.lit("}"),
    )
    return docs.withColumn("_m_meta", meta)


def _q_schemaless(filt):
    """Schemaless-metadata filter (reference's raw-bson contract,
    db/db.go:44-47): Mongo filter compiled against a JSON column via
    Spark VARIANT — missing key ≠ present null, type-bracketed equality."""
    from kaer_spark.filters_json import compile_filter_json

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        m = _ragged_meta(_t(spark, sf_dir, "documents"))
        v = F.parse_json(F.col("_m_meta"))
        return m.filter(compile_filter_json(filt)).select(
            "doc_id",
            F.try_variant_get(v, "$.src", "string").alias("src"),
            F.try_variant_get(v, "$.n", "bigint").alias("n"),
        )

    return run


def _q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_knn(
        _corpus(spark, sf_dir), QVEC, 10, vec_col="embedding", id_col="doc_id",
        metric="cosine", dist_col="cosine", keep_dist=True,
    ).select("doc_id", "lang", "cosine")


def _q_knn_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS top-10 (knn.exact_knn metric='dot'): descending inner product
    against QVEC — the ranking dot-product-trained retrieval models need
    (≠ cosine unless pre-normalized). Same TakeOrderedAndProject shape as
    the other exact kNN paths."""
    return exact_knn(
        _corpus(spark, sf_dir), QVEC, 10, vec_col="embedding",
        id_col="doc_id", metric="dot", dist_col="dot", keep_dist=True,
    ).select("doc_id", "lang", "dot")


def _q_max_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference O6 (getNextID): intent = max id (its min/max bug fixed)
    return _t(spark, sf_dir, "documents").agg(F.max("doc_id").alias("max_id"))


def _q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference O4 id assignment: dense contiguous ids in a requested order
    out = dense_ids(
        _t(spark, sf_dir, "documents").select("doc_id"), start=0, order_col="doc_id"
    )
    return out.select("doc_id", F.col("_m_id").alias("assigned_id"))


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _t(spark, sf_dir, "embeddings")
    # the 5 smallest-id vectors — RANK-limited, not `vec_id < 5`, so the
    # query set tracks whatever ids the fixture actually holds (the oracle
    # replays the same ORDER BY vec_id LIMIT 5 subquery)
    queries = embs.select("vec_id", "embedding").orderBy("vec_id").limit(5)
    return knn_join(
        queries, _corpus(spark, sf_dir), k=5,
        query_id_col="vec_id", corpus_id_col="doc_id", metric="l2sq",
    ).select(F.col("vec_id").alias("query_id"), "doc_id", "rank")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


def _q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N, threshold=JACCARD_THRESHOLD, max_doc_freq=JACCARD_MAX_DF,
    )


def _ensure_shingle_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-serve-many handle to the at-rest shingle inverted index
    (dedup.build_shingle_index) for this fixture — the recurring-dedup
    twin of :func:`_ensure_pq_index`: the first call per fixture pays the
    explode + doc-freq cap + size aggregate, every later call reads the
    capped postings and sizes only. Keyed by the same
    (path, size, mtime_ns, format-version) fingerprint."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_meta,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|n={JACCARD_N}|mdf={JACCARD_MAX_DF}|char".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_shingle_index_{tag}")
    try:
        meta = read_shingle_index_meta(path)
        if meta.get("source_fp") == fp:
            return path
    except (OSError, ValueError):
        pass
    build_shingle_index(
        _t(spark, sf_dir, "documents"), path,
        n=JACCARD_N, max_doc_freq=JACCARD_MAX_DF,
    )
    # stamp the fixture fingerprint into the sidecar (atomic rewrite)
    import json as _json

    meta = read_shingle_index_meta(path)
    meta["source_fp"] = fp
    tmp = os.path.join(path, "shingle_index.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "shingle_index.json"))
    return path


def _q_dedup_jaccard_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard served from the AT-REST shingle index
    (dedup.ngram_jaccard_pairs_indexed — r13 verdict #8: the fleet's most
    expensive non-TPC-H row re-exploded shingles, re-counted doc freqs,
    and re-aggregated sizes on every call of a RECURRING pipeline): the
    call pays only the pair stage over pre-capped postings — measured 4×
    cheaper at sf0.1 (0.86s vs 3.41s min). Value-identical to
    dedup_ngram_jaccard by construction (the cap froze the same doc
    frequencies at build), so the oracle is the SAME from-text replay —
    any build/serve drift (missed cap, stale sizes, lost postings)
    surfaces as a value mismatch."""
    from kaer_spark.operators.dedup import ngram_jaccard_pairs_indexed

    path = _ensure_shingle_index(spark, sf_dir)
    return ngram_jaccard_pairs_indexed(
        spark, path, threshold=JACCARD_THRESHOLD
    )


def _q_ngram_containment_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_containment served from the SAME at-rest shingle artifact as
    dedup_ngram_jaccard_indexed (dedup.ngram_containment_pairs_indexed):
    one build feeds both scorers — resemblance and containment are
    projections over the same (inter, sz_a, sz_b) pair counts. Same
    from-text oracle as ngram_containment; build/serve drift surfaces as
    a value mismatch."""
    from kaer_spark.operators.dedup import ngram_containment_pairs_indexed

    path = _ensure_shingle_index(spark, sf_dir)
    return ngram_containment_pairs_indexed(spark, path, threshold=0.8)


SHINGLE_CATCHUP_CUT = 250  # prefix/tail split for the shingle catch-up fixture
SHINGLE_CATCHUP_THRESHOLD = 0.5  # distinct geometry from the 0.4 jaccard rows


def _ensure_shingle_index_catchup(spark: SparkSession, sf_dir: str) -> str:
    """The catch-up twin of :func:`_ensure_shingle_index` (the
    minhash_index_catchup recipe, applied to the LAST at-rest index
    family): BUILD over the doc_id < SHINGLE_CATCHUP_CUT prefix, then
    REFRESH with the full corpus — dedup.refresh_shingle_index appends
    postings/sizes and a mergeable doc-freq segment, and re-decides the
    over-cap shingle set from the MERGED counts at the watermark flip.
    This is the part v1 could not do: the cap is corpus-global, so the
    value gate specifically catches a refresh that froze the prefix's
    hot set (shingles over the cap only in the union would keep
    generating candidate pairs, shifting scores)."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_meta,
        refresh_shingle_index,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|n={JACCARD_N}|mdf={JACCARD_MAX_DF}|char"
        f"|catchup<{SHINGLE_CATCHUP_CUT}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_shingle_catchup_{tag}")
    try:
        meta = read_shingle_index_meta(path)
        if meta.get("source_fp") == fp and meta.get("caught_up"):
            return path
    except (OSError, ValueError):
        pass
    docs = _t(spark, sf_dir, "documents")
    build_shingle_index(
        docs.filter(F.col("doc_id") < SHINGLE_CATCHUP_CUT), path,
        n=JACCARD_N, max_doc_freq=JACCARD_MAX_DF,
    )
    meta = refresh_shingle_index(docs, path)
    meta["source_fp"] = fp
    meta["caught_up"] = True
    write_sidecar(os.path.join(path, "shingle_index.json"), meta)
    return path


def _q_shingle_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report for the at-rest shingle index
    (dedup.shingle_index_stats), run over the CATCH-UP fixture (prefix
    build + refresh, TWO df segments) so the row exercises exactly the
    state the serve-time cap reads: posting mass, rank-based per-doc
    shingle-count quantiles, distinct/over-cap shingle counts from the
    MERGED segments, watermark + lag. The oracle replays everything from
    the documents table — a broken segment merge (double-counted or
    dropped window) lands as an n_hot/n_distinct value mismatch."""
    from kaer_spark.operators.dedup import shingle_index_stats

    path = _ensure_shingle_index_catchup(spark, sf_dir)
    return shingle_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "documents")
    )


def _sql_shingle_index_stats() -> str:
    n = JACCARD_N
    return f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n}
        ),
        sz AS (SELECT id, len(shingles) AS s FROM sh),
        inv AS (SELECT id, unnest(shingles) AS g FROM sh),
        dfc AS (SELECT g, count(*) AS c FROM inv GROUP BY g),
        ranked AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rn FROM sz),
        k AS (SELECT count(*) AS n, sum(s) AS tot, max(s) AS mx FROM sz)
        SELECT CAST(k.n AS BIGINT) AS n_docs,
               CAST(k.tot AS BIGINT) AS n_postings,
               CAST(k.mx AS BIGINT) AS max_doc_shingles,
               (SELECT CAST(count(*) AS BIGINT) FROM dfc) AS n_distinct_shingles,
               (SELECT CAST(count(*) AS BIGINT) FROM dfc
                WHERE c > {JACCARD_MAX_DF}) AS n_hot_shingles,
               (SELECT CAST(s AS BIGINT) FROM ranked
                WHERE rn = (k.n + 1) // 2) AS p50_doc_shingles,
               (SELECT CAST(s AS BIGINT) FROM ranked
                WHERE rn = (9 * k.n + 9) // 10) AS p90_doc_shingles,
               CAST((SELECT max(doc_id) FROM documents) AS BIGINT) AS watermark,
               CAST(0 AS BIGINT) AS watermark_lag
        FROM k
    """


def _q_shingle_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 catch-up (reference updateIndexFromLastId, db/db.go:191-207)
    for the shingle inverted index, proven through the value gate —
    completing the engine-wide rule for the fifth and last at-rest index
    family: the index is built on the doc_id prefix and refreshed with
    the full corpus, then serves Jaccard pairs. The oracle replays the
    from-text pipeline over the WHOLE corpus with the cap applied to the
    whole corpus's doc frequencies, so refreshed ≡ rebuilt ≡ from-text
    is checked value-exactly — a refresh that missed tail postings,
    duplicated a replayed append, or froze the prefix's over-cap set
    lands as a value mismatch. Distinct geometry from
    dedup_ngram_jaccard_indexed (threshold 0.5 vs 0.4)."""
    from kaer_spark.operators.dedup import ngram_jaccard_pairs_indexed

    path = _ensure_shingle_index_catchup(spark, sf_dir)
    return ngram_jaccard_pairs_indexed(
        spark, path, threshold=SHINGLE_CATCHUP_THRESHOLD
    )


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs (dedup.ngram_containment_pairs): one
    doc's distinct 8-gram set ≥80% contained in the other's — the
    asymmetric quote/subset/expanded-revision relation Jaccard
    structurally under-weights (a short quote in a long article has tiny
    Jaccard but containment ≈ 1). Same inverted-index plan and
    heavy-hitter cap as dedup_ngram_jaccard; both directions reported so
    the superset side is identifiable."""
    from kaer_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N, threshold=0.8, max_doc_freq=JACCARD_MAX_DF,
    )


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dups with banded sign-LSH candidate generation — the
    scale-safe blocking (high-cardinality band keys, not `label`); the
    oracle replays the identical seeded planes + IEEE fold."""
    return embedding_near_dups_lsh(
        _t(spark, sf_dir, "embeddings"),
        threshold=COSINE_DUP_THRESHOLD,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    ).select("id_a", "id_b", "cosine")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint("text").alias("fp")
    )


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


def _q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kaer_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("quality", quality_score("text"))
        .filter((F.col("quality") >= 0.8) & (F.col("n_chars") >= 100))
        .select("doc_id", "lang", "quality")
    )


def _q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM pipeline (lang-ID → quality filter → exact dedup →
    token accounting) as one plan; stats use only order-independent
    aggregates so the distributed answer is exact."""
    from kaer_spark.pipelines import corpus_stats, prepare_training_corpus

    corpus = prepare_training_corpus(
        _t(spark, sf_dir, "documents"), min_quality=0.5, min_tokens=10
    )
    return corpus_stats(corpus)


def _q_training_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline with the CCNet line-dedup stage prepended
    (prepare_training_corpus(remove_boilerplate_lines=True)): boilerplate
    tokens are stripped before quality/token/fingerprint enrichment, so
    the whole flow — line removal through per-language stats — is ONE
    Catalyst program, replayed end-to-end by the oracle."""
    from kaer_spark.pipelines import corpus_stats, prepare_training_corpus

    corpus = prepare_training_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=0.5,
        min_tokens=10,
        remove_boilerplate_lines=True,
        boilerplate_min_docs=LINE_DEDUP_MIN_DOCS,
        line_sep=" ",
    )
    return corpus_stats(corpus)


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_token_count("text").alias("n_bpe_tokens"))


def _q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cells, nprobe pruning) top-k — the batch MLlib index
    path. Approximate: no SQL oracle; the driver records a rows-only check
    and tests/test_similarity.py gates recall@k against the exact oracle."""
    from kaer_spark.operators.similarity import ivf_assign, ivf_fit, ivf_topk

    embs = _t(spark, sf_dir, "embeddings")
    model = ivf_fit(embs, cells=8, seed=42)
    assigned = ivf_assign(model, embs)
    return ivf_topk(model, assigned, QVEC, k=10, nprobe=4).select(
        "vec_id", F.col("_cell").alias("cell"), F.col("_score").alias("l2sq")
    )


def _q_ivf_knn_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF top-k (similarity.ivf_topk_deterministic): the
    ORACLE-CHECKED approximate path. Centroids are the 8 smallest-id
    vectors (sample fit, zero Lloyd iterations — iterated means can't
    replay bit-exactly), assignment is argmin over (dist, cell) structs,
    probe = 3 nearest cells to QVEC, exact rank within. The SQL twin
    re-derives assignment AND probe selection relationally."""
    from kaer_spark.operators.similarity import ivf_topk_deterministic

    return ivf_topk_deterministic(
        _t(spark, sf_dir, "embeddings"), QVEC, k=10, cells=8, nprobe=3
    ).select("vec_id", F.col("_cell").alias("cell"), F.col("_score").alias("l2sq"))


def _q_lsh_knn_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-k (similarity.signlsh_topk): candidates share ≥1
    Rademacher band key with the query, exact-cosine-ranked — the second
    fully oracle-checked approximate path (the dedup family's machinery
    turned into a search probe)."""
    from kaer_spark.operators.similarity import signlsh_topk

    return signlsh_topk(
        _t(spark, sf_dir, "embeddings"), QVEC, k=10,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    ).select("vec_id", F.col("_score").alias("cosine"))


def _q_pq_knn_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-PQ ADC top-k (similarity.pq_topk_deterministic):
    codebooks = slices of the 16 smallest-id vectors, Catalyst argmin
    encode, ADC lookup tables computed with the engine-shared left-assoc
    fold — the compression family's fully oracle-checked member (pq_knn
    keeps the k-means fit as the recall-first alternative)."""
    from kaer_spark.operators.similarity import pq_topk_deterministic

    return pq_topk_deterministic(
        _t(spark, sf_dir, "embeddings"), QVEC, topk=10, m=8, k=16
    ).select("vec_id", F.col("_score").alias("adc_l2sq"))


# Bump when the on-disk artifact layout or the code that builds memoized
# artifacts changes shape: the version participates in every fixture
# fingerprint, so an index built by older code can never be served stale
# (r12 ADVICE — the old (path, size, int(mtime)) key also collapsed
# same-second regenerations; st_mtime_ns closes that too).
_ARTIFACT_FMT = "v2"


def _fixture_fp(src: str) -> str:
    """Content-identity fingerprint for a driver fixture file:
    (path, size, nanosecond mtime, artifact-format version)."""
    import os

    st = os.stat(src)
    return f"{src}:{st.st_size}:{st.st_mtime_ns}:{_ARTIFACT_FMT}"


def _ensure_pq_index(spark: SparkSession, sf_dir: str, cells: int | None) -> str:
    """Build-once-serve-many handle to the at-rest PQ code table for this
    fixture (index_store.build_pq_index): keyed by the source parquet's
    (path, size, mtime_ns, format-version) fingerprint, so the first call
    per fixture pays the fit+encode and every later call — the steady
    state a serving index exists for — reads stored codes only. Stale or
    missing sidecar ⇒ rebuild; geometry is pinned to the registry's
    m=8/k=16."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.index_store import build_pq_index, read_pq_meta

    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(f"{fp}|m=8|k=16|cells={cells}".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_pq_index_{tag}")
    try:
        meta = read_pq_meta(path)
        if meta.get("source_fp") == fp and meta.get("cells") == cells:
            return path
    except (OSError, ValueError):
        pass
    build_pq_index(
        _t(spark, sf_dir, "embeddings"), path, m=8, k=16, cells=cells,
        extra_meta={"source_fp": fp},
    )
    return path


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-serve-many handle to the materialized IVF cell table
    for this fixture (index_store.build_ivf_index, deterministic fit so
    every query over it is oracle-replayable) — the IVF twin of
    :func:`_ensure_pq_index`: first call per fixture pays the build, the
    steady state reads the cell-partitioned table + sidecar centroids."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.index_store import (
        build_ivf_index,
        read_index_meta,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(f"{fp}|ivf|cells=8|det".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_ivf_index_{tag}")
    try:
        meta = read_index_meta(path)
        if meta.get("source_fp") == fp:
            return path
    except (OSError, ValueError, KeyError):
        pass
    meta = build_ivf_index(
        _t(spark, sf_dir, "embeddings"), path, cells=8, fit="deterministic"
    )
    # stamp the fixture fingerprint the same way _ensure_pq_index does
    from kaer_spark.operators.index_store import META_FILE

    meta["source_fp"] = fp
    write_sidecar(os.path.join(path, META_FILE), meta)
    return path


def _q_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health report for the at-rest IVF index
    (index_store.ivf_index_stats — r14 verdict #3: refresh assigns new
    vectors to FROZEN centroids, correct but silently skew-prone under
    drift, and nothing reported it): per-cell size histogram, skew vs the
    balanced design point, and rank-based residual quantiles against the
    sidecar centroids, plus the watermark and its lag vs the live corpus.
    Pure relational over the index table, so the oracle replays the
    whole chain — det-fit centroids, argmin assignment, per-cell counts,
    type-1 quantile selection — and a drifted stored assignment or a
    wrong quantile rank lands as a value mismatch."""
    from kaer_spark.operators.index_store import ivf_index_stats

    path = _ensure_ivf_index(spark, sf_dir)
    return ivf_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "embeddings")
    )


def _q_pq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed twin of ivf_index_stats
    (index_store.pq_index_stats): every STORED code is decoded against
    the sidecar codebooks and compared to its live vector —
    reconstruction error is the direct bound on ADC ranking fidelity, so
    its creep under frozen codebooks is the rebuild signal. The oracle
    re-derives the codes from the corpus alone (the det-encode replay)
    and the same rank-based quantiles, so a stale or corrupted code
    table disagrees with it value-exactly."""
    from kaer_spark.operators.index_store import pq_index_stats

    path = _ensure_pq_index(spark, sf_dir, cells=None)
    return pq_index_stats(spark, path, _t(spark, sf_dir, "embeddings"))


IVFF_K, IVFF_NQ, IVFF_MOD = 7, 4, 7


def _q_ivf_knn_join_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED batch ANN from the MATERIALIZED IVF index
    (index_store.ivf_index_knn_join with pred — r13 verdict #7: the
    recurring-mining serving paths carry the reference's filtered-kNN
    contract, db/db.go:111-143, not just the single-query and PQ paths):
    the predicate filters the probed corpus BELOW the cell equi-join
    (pushed into the pruned scan), so every query gets "k nearest among
    matches". Probed fully (nprobe = cells ⇒ exact), so the oracle
    value-checks the whole serving chain — stored cell assignment,
    sidecar centroids, filter placement, per-query rank. Distinct
    geometry from ivf_knn_join (4 LARGEST-id queries, k=7, pred
    vec_id % 7 == 1)."""
    from kaer_spark.operators.index_store import ivf_index_knn_join

    embs = _t(spark, sf_dir, "embeddings")
    queries = (
        embs.orderBy(F.col("vec_id").desc()).limit(IVFF_NQ)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    path = _ensure_ivf_index(spark, sf_dir)
    return ivf_index_knn_join(
        spark, path, queries, k=IVFF_K, nprobe=8,
        pred=F.col("vec_id") % IVFF_MOD == 1,
    )


def _q_ivf_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ serving stack from the AT-REST code table
    (index_store.build_pq_index + pq_index_topk): probe 3 of 8 coarse
    cells — directory-pruned partitions of the materialized m-int code
    table — ADC shortlist of 50, exact refine against raw vectors for the
    survivors only. The FAISS IVFx,PQy+RefineFlat layout with every stage
    deterministic AND persisted: codes are encoded once at build (r12 —
    previously re-fit + re-encoded per call), and serving is value-
    identical to the fresh ivf_pq_topk (equivalence pytest-pinned), so
    the oracle replays the ENTIRE pipeline value-exactly at partial probe
    (no full-probe escape hatch)."""
    from kaer_spark.operators.index_store import pq_index_topk

    path = _ensure_pq_index(spark, sf_dir, cells=8)
    return pq_index_topk(
        spark, path, _t(spark, sf_dir, "embeddings"), QVEC,
        topk=10, shortlist=50, nprobe=3,
    ).select("vec_id", F.col("_score").alias("l2sq"))


def _q_pq_knn_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN served from the AT-REST PQ code table
    (index_store.pq_index_topk): ADC shortlist of 50 read from stored
    codes — the scan touches (vec_id, pq_code) only, 32× less IO than raw
    vectors — then EXACT float64 re-rank of the survivors (FAISS
    IndexRefineFlat / Jegou-et-al re-ranking). Codes are fit + encoded
    once per fixture (r12 — previously per call); serving is value-
    identical to the fresh pq_topk_refined (equivalence pytest-pinned),
    both stages value-replayed by the oracle."""
    from kaer_spark.operators.index_store import pq_index_topk

    path = _ensure_pq_index(spark, sf_dir, cells=None)
    return pq_index_topk(
        spark, path, _t(spark, sf_dir, "embeddings"), QVEC,
        topk=10, shortlist=50,
    ).select("vec_id", F.col("_score").alias("l2sq"))


def _q_pq_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED compressed serving (index_store.pq_index_topk with pred —
    r12 verdict #8: the reference's core semantics IS filtered kNN,
    db/db.go:111-143, now on the PQ path too): the predicate's ids
    (a pushed-down, id-only corpus scan) SEMI-JOIN the at-rest code table
    BEFORE the ADC shortlist cut, so the result is "k nearest among
    matches", never an under-filled top-k-minus-nonmatches. The oracle
    replays both stages with the filter applied pre-shortlist, exactly
    like the engine. Distinct geometry from pq_knn_refined (shortlist 40,
    pred vec_id %% 3 == 0)."""
    from kaer_spark.operators.index_store import pq_index_topk

    embs = _t(spark, sf_dir, "embeddings")
    path = _ensure_pq_index(spark, sf_dir, cells=None)
    return pq_index_topk(
        spark, path, embs, QVEC, topk=10, shortlist=40,
        pred=F.col("vec_id") % 3 == 0,
    ).select("vec_id", F.col("_score").alias("l2sq"))


PQJ_NQ, PQJ_SHORTLIST, PQJ_TOPK = 4, 30, 8


def _q_pq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch compressed ANN JOIN from the at-rest code table
    (index_store.pq_index_knn_join — the PQ twin of ivf_index_knn_join,
    completing the serving stack): per query the ADC lookup table is
    computed IN-PLAN (codebook literals × the query vector column,
    evaluated once per query row), the code table is scanned ONCE for the
    whole batch, per-query shortlists are WindowGroupLimit-bounded, and
    the exact float64 re-rank runs on ≤ queries×shortlist survivors. The
    oracle replays every stage relationally — per-query ADC tables
    included — against the deterministic codebooks."""
    from kaer_spark.operators.index_store import pq_index_knn_join

    embs = _t(spark, sf_dir, "embeddings")
    queries = (
        embs.orderBy("vec_id").limit(PQJ_NQ)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    path = _ensure_pq_index(spark, sf_dir, cells=None)
    return pq_index_knn_join(
        spark, path, embs, queries,
        topk=PQJ_TOPK, shortlist=PQJ_SHORTLIST,
    )


def _q_pq_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 catch-up (reference updateIndexFromLastId, db/db.go:191-207) for
    the PQ code table, proven through the value gate: build the index on
    the id-prefix (vec_id < 256), REFRESH with the full corpus — the tail
    is encoded under the STORED codebooks and appended, no refit — then
    serve top-12. The deterministic codebook sample (16 smallest ids) lies
    inside the prefix, so the oracle replays the fit from the full corpus
    and any refresh bug (wrong codebooks, missed/duplicated tail rows,
    re-fit drift) surfaces as a value mismatch in the served ranking.
    Distinct geometry (shortlist=40, topk=12) from pq_knn_refined."""
    import os

    from kaer_spark.operators.index_store import (
        PQ_META_FILE,
        build_pq_index,
        pq_index_topk,
        read_pq_meta,
        refresh_pq_index,
    )

    import hashlib
    import tempfile

    embs = _t(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(f"{fp}|catchup".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_pq_index_{tag}")
    cached = False
    try:
        meta = read_pq_meta(path)
        cached = meta.get("source_fp") == fp and meta.get("caught_up")
    except (OSError, ValueError):
        pass
    if not cached:
        build_pq_index(
            embs.filter(F.col("vec_id") < 256), path, m=8, k=16,
            extra_meta={"source_fp": fp},
        )
        meta = refresh_pq_index(embs, path)
        meta["caught_up"] = True
        write_sidecar(os.path.join(path, PQ_META_FILE), meta)
    return pq_index_topk(
        spark, path, embs, QVEC, topk=12, shortlist=40
    ).select("vec_id", F.col("_score").alias("l2sq"))


def _q_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs nprobe for the IVF path: the recall/latency trade the
    reference exposes via HNSW ef (db/hnsw.go ef=200), quantified for our
    index. One k-means fit + assign, then each nprobe probes a growing cell
    subset; recall is measured against the exact top-10 for 3 deterministic
    query vectors. Rows-only contract (k-means is not SQL-expressible);
    recall must be non-decreasing in nprobe and 1.0 at nprobe=cells —
    asserted in tests/test_similarity.py."""
    from kaer_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_fit,
        ivf_topk,
        recall_at_k,
    )

    embs = _t(spark, sf_dir, "embeddings")
    model = ivf_fit(embs, cells=8, seed=42)
    assigned = ivf_assign(model, embs).persist()
    try:
        # 3 deterministic probes: QVEC plus two phase-shifted variants
        qvecs = [QVEC, QVEC[32:] + QVEC[:32], [-x for x in QVEC]]
        rows = []
        for nprobe in (1, 2, 4, 8):
            total = 0.0
            for qv in qvecs:
                exact = brute_force_topk(embs, qv, k=10)
                approx = ivf_topk(model, assigned, qv, k=10, nprobe=nprobe)
                total += recall_at_k(approx, exact, "vec_id")
            rows.append((nprobe, round(total / len(qvecs), 4), len(qvecs)))
    finally:
        assigned.unpersist()
    return spark.createDataFrame(rows, "nprobe long, recall double, n_queries long")


def _q_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators.similarity.pq_fit/encode/
    pq_topk): 64 floats → 8 one-byte codes (32× compression), query-time
    scoring = m table lookups per row as a pure Catalyst zip_with/aggregate
    — the memory-compression scale path for billion-vector ANN. Rows-only
    contract (k-means codebooks are not SQL-expressible); exactness of the
    ADC arithmetic and recall floors are gated in tests/test_similarity.py."""
    from kaer_spark.operators.similarity import pq_encode, pq_fit, pq_topk

    embs = _t(spark, sf_dir, "embeddings")
    books = pq_fit(embs, m=4, k=16, seed=42, max_iter=8)
    enc = pq_encode(embs, books)
    return pq_topk(enc, books, QVEC, k=10)


def _q_sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization top-k (operators.similarity.sq_fit/encode/
    sq_topk): 4× compression, asymmetric decode-and-score as a Catalyst
    fold. UNLIKE the other compressed paths this one is fully
    oracle-checked: the fit is exact per-dim min/max, so the DuckDB twin
    recomputes the identical codes and distances bit-for-bit."""
    from kaer_spark.operators.similarity import sq_encode, sq_fit, sq_topk

    embs = _t(spark, sf_dir, "embeddings")
    mins, maxs = sq_fit(embs)
    enc = sq_encode(embs, mins, maxs)
    return sq_topk(enc, mins, maxs, QVEC, k=10)


def _q_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxNearestNeighbors — same
    rows-only contract as ivf_knn (approximate path)."""
    from kaer_spark.operators.similarity import lsh_index, lsh_topk

    embs = _t(spark, sf_dir, "embeddings")
    model, indexed = lsh_index(embs, bucket_length=2.0, num_hash_tables=3, seed=42)
    return lsh_topk(model, indexed, QVEC, k=10).select(
        "vec_id", F.col("distCol").alias("dist")
    )


def _q_lsh_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approxSimilarityJoin through LSH buckets (self-join, distance < 6):
    the shuffle-bounded replacement for an all-pairs distance join —
    rows-only contract (bucketing is model-dependent)."""
    from kaer_spark.operators.similarity import lsh_index, lsh_similarity_join

    embs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    model, indexed = lsh_index(embs, bucket_length=2.0, num_hash_tables=3, seed=42)
    joined = lsh_similarity_join(model, indexed, indexed, threshold=6.0)
    return (
        joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            F.col("dist"),
        )
    )


def _q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kaer_spark.functions.text import with_lang_guess

    d = _t(spark, sf_dir, "documents")
    return (
        with_lang_guess(d.select("text"), out_col="guess")
        .groupBy("guess")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# relational / events analytics (extension surface: joins, aggs, windows,
# JSON, sessionization — SURVEY.md §2.3 categories the reference lacks)
#
# Float determinism rule: every SUM/AVG over doubles goes through an exact
# DECIMAL accumulation (associative, order-independent) and is cast back to
# double only at the end — so Spark's partial aggregation order vs DuckDB's
# single-threaded order cannot change the value. Scales are chosen so (a) the
# fixture values (all exact 2-decimal numbers; products exact on a 4dp/6dp
# grid) round-trip exactly, and (b) the decimal numerator stays below 2^53,
# keeping the final decimal→double cast correctly rounded on both engines.
# ---------------------------------------------------------------------------
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its timestamp normalized to BIGINT epoch-nanos.

    All event-time logic below works in integer nanos (exact arithmetic on
    both engines; the DuckDB oracles use epoch_ns(ts)). The fixture's
    physical type has varied across driver rounds — TIMESTAMP(NANOS), which
    Spark only reads via ``spark.sql.legacy.parquet.nanosAsLong`` (already
    int64 nanos), vs TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ —
    so normalize whatever shows up. The session timezone is pinned UTC
    (kaer_spark.session), making the NTZ→instant cast lossless; the
    conversion is a pure projection folded into the scan stage. The cast
    itself lives in kaer_spark.functions.time — ONE definition shared by
    the entry, the rollup/streaming operators, and the tests, so a fixture
    type flip cannot split the engine from its library again."""
    from kaer_spark.functions.time import normalize_epoch_ns

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_epoch_ns(_t(spark, sf_dir, "events"))
def _q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of events_hourly, run as a bounded stream
    (file source → watermarked tumbling window → memory sink, drained with
    processAllAvailable). The aggregation is exact in complete mode, so the
    result is oracle-checkable against the same SQL as the batch query —
    the stream ≡ batch contract, enforced by the driver gate itself."""
    import uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # the file source wants a directory; glob-filter it down to events
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from kaer_spark.functions.time import normalize_epoch_ns

    stream = normalize_epoch_ns(stream)  # micros fixture → epoch nanos
    agg = (
        stream.withColumn("hour_epoch", F.expr("ts DIV 3600000000000") * 3600)
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of events_sessionize: the native
    ``session_window`` (streaming.ingest.sessionized_counts) over a bounded
    file stream, complete mode, drained to a memory sink, then folded to
    per-user (n_sessions, n_events). session_window's half-open merge rule
    — a new session starts when the gap is ≥ 30 min — is replayed by the
    oracle's lag+cumsum with ``>=`` (the batch query's ``>`` differs only
    on exact-boundary gaps, absent from the fixture but pinned correctly
    here). Event time is micros-exact: ts DIV 1000 is lossless because the
    engine-wide nanos normalization produces micros*1000."""
    import uuid

    from kaer_spark.functions.time import normalize_epoch_ns
    from kaer_spark.streaming.ingest import sessionized_counts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = normalize_epoch_ns(stream).withColumn(
        "ts_ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    sess = sessionized_counts(stream, gap="30 minutes", ts_col="ts_ts")
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming first-seen dedup (streaming.streaming_dedup,
    applyInPandasWithState) over a bounded document stream — ORACLE-CHECKED
    via the stream ≡ batch contract: the fixture is one parquet file, so
    one micro-batch, and the emitted min-doc_id-per-text representatives
    equal the batch window rank. A multi-file stream would emit first-seen
    (arrival order) instead — that path is semantics-tested in
    tests/test_streaming.py."""
    import uuid

    from kaer_spark.streaming.ingest import streaming_dedup

    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    deduped = streaming_dedup(stream, fp_col="text", id_col="doc_id")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("doc_id", "lang", "source")


def _q_streaming_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination + dedup (streaming.streaming_dedup_against):
    a bounded even-id document stream anti-joined per micro-batch against
    the STATIC odd-id reference (stream-static left anti, stateless), then
    first-seen stateful dedup — oracle-checked via the same stream ≡ batch
    single-file contract as streaming_dedup."""
    import uuid

    from kaer_spark.streaming.ingest import streaming_dedup_against

    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
    )
    reference = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    out = streaming_dedup_against(
        stream, reference, fp_col="text", id_col="doc_id"
    )
    name = f"stream_dedup_against_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("doc_id", "lang", "source")


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (SURVEY §2.3: reference has no range joins): for each
    'view' event, how many 'click' events by the same user in the preceding
    10 minutes. Equi-join on user_id with the time band as join-level filter
    — one hash shuffle, never a cross product."""
    from kaer_spark.operators.interval import interval_join

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    ten_min_ns = 600_000_000_000
    j = interval_join(
        views, clicks, ["user_id"], "ts", "ts", -ten_min_ns, 0, how="left"
    )
    return (
        j.groupBy(F.col("l.event_id").alias("event_id"), F.col("l.user_id").alias("user_id"))
        .agg(F.count(F.col("r.ts")).alias("n_clicks_10m"))
    )


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (orders with no lineitems) — SURVEY §2.3 'no semi/anti
    SQL surface' in the reference."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_empty_orders"))
    )


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having at least one returned lineitem."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


def _q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


def _q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape (shipping-priority); fixture orders has no
    # o_shippriority, so the grouping is (l_orderkey, o_orderdate).
    # Customer (even segment-filtered) is O(SF) — no forced broadcast;
    # AQE broadcasts at toy SF and shuffle-joins at the 100 TB point,
    # same stance as q5/q7.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust.filter(F.col("c_mktsegment") == "BUILDING"),
            orders.o_custkey == cust.c_custkey,
        )
        .filter(
            (F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way join. lineitem⋈orders is
    the one real shuffle; supplier/nation/region are broadcast so the fact
    table is never re-shuffled for them, and the c_nationkey = s_nationkey
    clause rides the customer join instead of forcing an extra exchange.
    Customer is left to Catalyst/AQE: tiny here (broadcast), shuffle-join at
    100 TB where customer no longer fits in memory."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(
                supp.join(nation, supp.s_nationkey == nation.n_nationkey).join(
                    region, nation.n_regionkey == region.r_regionkey
                )
            ),
            li.l_suppkey == supp.s_suppkey,
        )
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def _q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): nation joined twice under different
    aliases — once through the supplier side, once through the customer
    side. Both nation alias tables are pre-filtered to the two query
    nations *before* any join, so the supplier/customer joins prune their
    rows (and, transitively, fact rows) to ~2/25 immediately instead of
    carrying every nation through four joins and filtering at the end.
    Only the 2-row nation slices are broadcast by hint; supplier and
    customer are O(SF) tables and are left to AQE — at toy SF it
    broadcasts them, at 100 TB they shuffle, which is the only plan that
    doesn't OOM the executors. The residual pair disjunction after both
    joins merely excludes the (N1,N1)/(N2,N2) combinations."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    q_nations = ["NATION_1", "NATION_2"]
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(q_nations))
        .select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(q_nations))
        .select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    # nation-tagged key dims: 2/25 of supplier/customer survive these joins
    supp_n = supp.join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust_n = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_n, li.l_suppkey == F.col("s_suppkey"))
        .join(cust_n, orders.o_custkey == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def _q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): filtered LEFT OUTER join then two
    stacked aggregations. The orders-side predicate must sit on the right
    input (not the join output) to preserve outer-join semantics — customers
    whose only orders are urgent still count with c_count = 0. Fixtures have
    no o_comment, so the exclusion predicate is the analogous NOT LIKE on
    o_orderpriority."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").like("1-%")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def _q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the 8-way join, following the q5
    template. The type-filtered part (1/5 of rows) and the pre-joined
    supplier⋈nation dims broadcast so lineitem prunes early and shuffles
    once (on l_orderkey); customers are pre-filtered to the ASIA region
    BEFORE touching the fact side (the q7 lesson — region cuts 4/5 of
    customers), and the customer join itself is left to AQE: broadcast at
    toy SF, shuffle at 100 TB. Both DECIMAL volume sums divide as doubles
    once per year group, so the share replays bit-exact on the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n1 = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = _t(spark, sf_dir, "customer").join(
        F.broadcast(
            n1.join(region, n1.n_regionkey == region.r_regionkey).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    nation_vol = F.when(
        F.col("supp_nation") == "NATION_5", vol
    ).otherwise(F.lit(0).cast("decimal(28,4)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(supp.join(n2, supp.s_nationkey == F.col("s_nkey"))),
            li.l_suppkey == supp.s_suppkey,
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_asia, orders.o_custkey == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nation_vol).cast("double").alias("nation_vol"),
            F.sum(vol).cast("double").alias("total_vol"),
        )
        .select(
            "o_year",
            (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), fixture-adapted: the spec
    filters on p_container, which the fixture lacks, so the part predicate
    is p_brand + p_size (same selectivity role; the tested shape — a
    correlated per-part average subquery — is unchanged). Spark-first: the
    correlated avg becomes ONE window over l_partkey after the broadcast
    part prune, not a second scan+join of lineitem. The threshold compare
    runs in exact DECIMAL integer arithmetic (l_quantity is integral:
    qty < 0.2·avg ⟺ 5·qty·cnt < sum), so no float boundary can diverge
    between engines."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15)
    )
    pruned = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    stats = pruned.withColumn("sum_qty", F.sum(qty_dec).over(w)).withColumn(
        "cnt_qty", F.count("*").over(w)
    )
    small = stats.filter(qty_dec * 5 * F.col("cnt_qty") < F.col("sum_qty"))
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(28,4)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly")
    )


def _q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): revenue-per-supplier aggregate, then the
    max taken with a rank() window over the (tiny) aggregate — one pass,
    no re-scan of lineitem the way the spec's correlated MAX subquery
    implies. Ties on the exact double revenue all surface, so the result
    is deterministic without an arbitrary pick."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum(rev).cast("double").alias("total_revenue"))
    )
    ranked = per_supp.withColumn(
        "rk", F.rank().over(Window.orderBy(F.col("total_revenue").desc()))
    ).filter(F.col("rk") == 1)
    return (
        ranked.join(F.broadcast(supp), ranked.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def _q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): scalar-subquery threshold
    (broadcast single-row cross join — no recompute per row) feeding an
    anti join against orders. The average replays exactly: DECIMAL sum
    cast to double, divided by the count, on both engines. Fixtures have
    no c_phone, so the grouping key is c_mktsegment; and every fixture
    customer has at least one order, so the anti join is date-windowed
    ("dormant since 1998") — the spec's no-orders-at-all predicate would
    be vacuously empty at every SF and prove nothing."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    acct_dec = F.col("c_acctbal").cast("decimal(18,2)")
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(acct_dec).cast("double") / F.count("*")).alias("avg_bal")
        )
    )
    candidates = (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        candidates.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(acct_dec).cast("double").alias("totacctbal"),
        )
    )


def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): group-HAVING over the fact table
    feeding a semi-filter on orders. The HAVING comparison stays in DECIMAL
    (exact) so the qualifying set is engine-independent; the qualifying keys
    are joined back as an inner join that AQE converts to broadcast once the
    aggregate side turns out small — the same plan shape that works at
    100 TB, where the >threshold set is tiny relative to lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 250)
        .select("l_orderkey", F.col("sum_qty_dec").cast("double").alias("total_qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation over a
    lineitem⋈part join. Part is broadcast (2k rows at sf0.01; at 100 TB it
    is still the smallest fact-adjacent dim and AQE would keep the
    broadcast up to the 8 GB cap). Both DECIMAL accumulators reduce in one
    partial-final agg pass; the ratio is a single double division at the
    end so it replays bit-exact on the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(28,4)")
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
    )
    return agg.select(
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias(
            "promo_pct"
        ),
    )


def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunctive brand/size/quantity bands.
    Written as an equi-join on partkey with the OR-of-ANDs as a post-join
    filter — Catalyst keeps the hash join and evaluates the disjunction in
    the same codegen stage, instead of the naive theta-join cross product."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): returned lineitems joined to a
    date-windowed orders slice, customer, and broadcast nation; top 20 by
    lost revenue. Both fact filters sit below the join so they push into the
    parquet scans."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 (forecast revenue change): pure scan-filter-agg; the filters
    # all push into the parquet scan.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), fixture-adapted: the fixture has no
    partsupp table, so the (part, supplier) price list is derived from
    lineitem — cost(part, supplier) = min observed l_extendedprice, in exact
    DECIMAL so the per-part minimum is engine-independent. The tested shape
    is unchanged: a region-restricted correlated-MIN subquery resolved by
    joining back the rows that achieve the minimum. Spark-first: the
    correlated MIN is ONE window over p_partkey after the supplier side is
    pruned to the region — no second scan of the price list. Supplier⋈nation
    ⋈region is broadcast (100 rows/SF-invariant dims); the price-list agg
    shuffles once on (partkey, suppkey), then the window re-uses that
    partitioning's keyspace."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) | (F.col("p_type") == "LARGE")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    li = _t(spark, sf_dir, "lineitem")
    supp_asia = F.broadcast(
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(supp_asia, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supp_cost")
        )
    )
    w = Window.partitionBy("l_partkey")
    best = (
        cost.withColumn("min_cost", F.min("supp_cost").over(w))
        .filter(F.col("supp_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("supp_cost").cast("double").alias("supp_cost"),
        )
    )
    return best.orderBy(
        F.col("s_acctbal").desc(),
        F.col("n_name").asc(),
        F.col("s_name").asc(),
        F.col("p_partkey").asc(),
    ).limit(100)


def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), fixture-adapted: the spec's
    EXISTS predicate is l_commitdate < l_receiptdate, which the fixture
    lacks, so the late-line predicate is l_shipdate > o_orderdate + 60 days
    (same role: "at least one problem line"). The tested shape — a
    date-windowed scan of orders semi-joined against an EXISTS on the fact
    table, then a priority rollup — is unchanged. The semi join shuffles
    both sides on orderkey once; interval arithmetic on tz-free timestamps
    is calendar-exact on both engines."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), fixture-adapted: no partsupp, so
    profit omits the ps_supplycost·l_quantity term and is the DECIMAL
    revenue sum; the part predicate is p_type = 'ECONOMY' standing in for
    p_name LIKE '%green%'. Shape preserved: the 6-way lineitem⋈part⋈supplier
    ⋈nation⋈orders join grouped by (nation, order-year). Part and the
    supplier⋈nation pre-join broadcast; orders rides the one orderkey
    shuffle — the q5/q8 template that survives 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(
                supp.join(nation, supp.s_nationkey == nation.n_nationkey).select(
                    "s_suppkey", "n_name"
                )
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def _q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification), fixture-adapted: no
    partsupp, so a part's "value" held by one nation's suppliers is the
    DECIMAL sum of l_extendedprice over that nation's lineitems. Shape
    preserved: per-part aggregate HAVING > fraction·(scalar subquery of the
    same total), the threshold compared in exact DECIMAL (value·10000 >
    total, i.e. fraction 0.0001 — scaled to integer-exact math so no float
    boundary can diverge). The scalar total is a 1-row broadcast cross
    join, not a per-row recompute."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_items = li.join(
        F.broadcast(
            supp.join(nation, supp.s_nationkey == nation.n_nationkey).select(
                "s_suppkey"
            )
        ),
        li.l_suppkey == F.col("s_suppkey"),
    ).select("l_partkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price"))
    per_part = nat_items.groupBy("l_partkey").agg(
        F.sum("price").alias("value_dec")
    )
    total = nat_items.agg(F.sum("price").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_dec") * 10000 > F.col("total_dec"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
    )


def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), fixture-adapted: no
    l_shipmode or commit/receipt dates, so the grouping key is l_linestatus
    and the "late" predicate is l_shipdate > o_orderdate + 30 days inside a
    one-year window. The tested shape — a fact⋈orders join with
    conditional CASE sums splitting high- vs low-priority orders — is
    unchanged. One orderkey shuffle; the CASE sums reduce map-side."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("long").alias("high_line_count"),
            F.sum(1 - high).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), fixture-adapted: the
    part↔supplier association comes from lineitem (no partsupp), and the
    spec's complaint-comment supplier exclusion becomes s_acctbal < 0 (same
    role: a NOT-IN subquery pruning a small supplier set). Shape preserved:
    COUNT(DISTINCT supplier) per (brand, type, size) with part-side
    negative predicates. The distinct-agg shuffles on the group key with
    the suppkey carried — one exchange; the excluded-supplier set is a
    broadcast anti join, never a driver-side list."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def _q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), fixture-adapted: the spec
    keeps suppliers whose ps_availqty exceeds half the quantity they
    shipped of brand-matching parts in a year; without partsupp, the
    inner condition becomes "shipped more than 40 units of some matching
    part in 1997" (same nested shape: part-filtered per-(part,supplier)
    aggregate HAVING a threshold, semi-joining up to nation-filtered
    suppliers); the 40-unit threshold is tuned so the
    nation-filtered result is non-empty at the sf0.01 gate (the q22
    lesson: a 0==0 green proves nothing). The HAVING compares exact DECIMAL quantity sums. Two
    shuffles total: the (part,supplier) agg and nothing else — the
    supplier and part sides broadcast."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand").isin("Brand#2", "Brand#3"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(nation.select("n_nationkey")),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


def _q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), fixture-adapted: the
    "late" predicate is l_shipdate > o_orderdate + 45 days (no
    commit/receipt dates). Shape preserved — the spec's double-correlated
    EXISTS / NOT EXISTS ("another supplier in the order" / "no other LATE
    supplier") is resolved Spark-first as ONE per-order aggregate
    (countDistinct suppliers, countDistinct late suppliers) joined back to
    the late lines, instead of two extra correlated scans of lineitem:
    keep a late line iff its order has >1 supplier and exactly 1 late one.
    lineitem shuffles once on orderkey for the agg; the join back reuses
    the same key. Orders with status 'F' only, as in the spec."""
    orders_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders_f, li.l_orderkey == F.col("o_orderkey")).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")).cast(
            "int"
        ),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    waiting = (
        lo.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    # customer is O(SF) — no broadcast hint (AQE decides); nation is a fixed
    # 25-row table, the one dim that is always safe to broadcast.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # customer is O(SF): leave the join strategy to AQE rather than forcing
    # a broadcast that OOMs once customer is multi-GB.
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def _q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.filter(F.col("o_custkey") < 20)
        .withColumn(
            "running_spent",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
        )
        .withColumn(
            "order_rank",
            F.row_number()
            .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
            .cast("long"),
        )
        .select("o_custkey", "o_orderkey", "order_rank", "running_spent")
    )


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sum_k/max_k are coalesced to 0/-1 sentinels: a nullable BIGINT column
    # promotes to float64 (NaN) on some fetch paths (pandas/Arrow) while a
    # NULL-free one stays int64, so eliminating NULLs pins one canonical
    # representation on both engines. (DuckDB's sum(BIGINT) is HUGEINT —
    # the oracle pins it back with CAST AS BIGINT for the same reason.)
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
            F.coalesce(F.max("k"), F.lit(-1)).cast("long").alias("max_k"),
        )
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # ts is BIGINT nanos; hour bucket as epoch-seconds (pure integer division
    # — float division would wobble at exact-hour boundaries)
    hour_epoch = F.expr("ts DIV 3600000000000") * 3600
    return (
        ev.groupBy(hour_epoch.alias("hour_epoch"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


def _q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style 15-min time_bucket rollup (operators/rollup.py):
    integer-nanos bucket floor, one shuffle, DECIMAL-accumulated sum. The
    same operator backs materialize/refresh_rollup (incremental day-partition
    rebuild, tests/test_rollup.py); the driver row checks the bucket+agg
    arithmetic."""
    from kaer_spark.operators.rollup import rollup

    return rollup(_events(spark, sf_dir), 900 * 1_000_000_000, dims=["event_type"])


PAD_NS = 1_800_000_000_000  # 30 min


def _q_event_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage (interval.merge_intervals /
    interval_coverage): each event opens a [ts, ts+30min) window; islands
    coalesce in ONE key shuffle + two window passes (no self-join), then
    total covered nanos, island count, and the largest inactivity gap —
    the gaps-and-islands primitive exposed as a public operator (the
    passage excision's span merge uses the same formulation). Oracle:
    the lag/running-max SQL islands."""
    from kaer_spark.operators.interval import interval_coverage

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.lit(PAD_NS)).alias("end"),
    )
    return interval_coverage(ev, ["user_id"])


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30 min gap per user —
    lag + conditional cumsum windows (the standard Spark sessionize shape)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag(F.col("ts")).over(w)  # integer nanos
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1_800_000_000_000), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# further extension operators: set ops, rollup, pivot, as-of join, minhash,
# multimodal feature extraction
# ---------------------------------------------------------------------------
def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big_buyers = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    negative = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return building.intersect(big_buyers).union(negative).distinct().exceptAll(
        orders.filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )


def _q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


def _q_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


def _q_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kaer_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    return asof_join(clicks, signups, on="ts", by="user_id").select(
        "event_id", "user_id", "signup_event"
    )


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kaer_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD,
        seed=42,
    )


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene pass (functions.text.redact_pii): the fixture text is
    synthetic, so each doc gets a deterministic email/phone/URL appended
    (built from doc_id identically in both engines) and the three-pattern
    redaction must strip all of them back out. Pure regexp_replace in the
    scan stage; the oracle replays the same regexes in the same order."""
    from kaer_spark.functions.text import normalize_whitespace, redact_pii

    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
        F.lit(" or +1555"), F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        F.lit(" see https://ex.com/doc/"), F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        normalize_whitespace(redact_pii(dirty)).alias("clean_text"),
    )


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (functions.text.chunk_documents): 200-char
    chunks, 50-char overlap — one narrow explode, no shuffle, no UDF."""
    from kaer_spark.functions.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), size=200, overlap=50
    ).drop("text")


def _q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8/1/1 train/val/test split, stratified by language
    (pipelines.stratified_split): id-ranked round-robin dealing, exact per
    stratum, reproducible — no random(). Output = per-(lang, split)
    counts so the driver row checks both the dealing arithmetic and the
    stratum exactness."""
    from kaer_spark.pipelines import stratified_split

    assigned = stratified_split(
        _t(spark, sf_dir, "documents"), strata_col="lang", id_col="doc_id",
        sub_strata=32,  # scale path: a mega-stratum ranks on 32 reducers
    )
    return assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language profile of documents.n_chars: exact percentiles +
    decimal-accumulated mean (pipelines.numeric_profile) — the pre/post
    stage-health check of a training-data pipeline."""
    from kaer_spark.pipelines import numeric_profile

    return numeric_profile(
        _t(spark, sf_dir, "documents"), "n_chars", group_col="lang"
    )


def _q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word ratio,
    longest same-word run, top-bigram share. Pure per-row Catalyst folds
    (functions.text) — zero shuffle; pipelines inside the scan. Every
    metric ends in a single int/int IEEE division so the DuckDB oracle
    (gaps-and-islands + group-by, an independent algorithm) matches
    bit-for-bit."""
    from kaer_spark.functions.text import (
        distinct_word_ratio,
        max_word_run,
        top_ngram_fraction,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_words"),
        distinct_word_ratio("text").alias("distinct_word_ratio"),
        max_word_run("text").alias("max_word_run"),
        top_ngram_fraction("text", n=2).alias("top_bigram_fraction"),
    )


#: deterministic fixture split: every 97th doc plays the "benchmark suite"
CONTAM_TEST_MOD = 97
CONTAM_N = 3  # word n-gram size; 3 collides usefully on the tiny-vocab fixture


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any word 3-gram with
    the held-out "benchmark" slice (doc_id % 97 == 0). The test gram set is
    broadcast; the corpus-side probe is scan-shaped (operators.
    contamination)."""
    from kaer_spark.operators.contamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    test = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD == 0)
    train = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD != 0)
    return contamination_report(train, test, n=CONTAM_N, unit="word")


def _q_overlap_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side memorization risk (contamination.overlap_fraction): for
    each benchmark doc (doc_id % 97 == 0), the fraction of its distinct
    word 3-grams that occur anywhere in the train slice — the flipped
    perspective of contamination_report, with the TRAIN grams as the big
    (semi-join, never broadcast) side."""
    from kaer_spark.operators.contamination import overlap_fraction

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD == 0)
    train = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD != 0)
    return overlap_fraction(ev, train, n=CONTAM_N, unit="word")


PMI_MIN_COUNT = 20
PMI_TOP_N = 50


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI (ranking.pmi_bigrams): adjacent token
    pairs scored by exact PMI lift (= exp(PMI); same ranking, bit-exact
    replay where ln drifts 1 ulp cross-engine) against the pair
    distribution's marginals, support floor 20 — the tokenizer-prep
    collocation extractor."""
    from kaer_spark.operators.ranking import pmi_bigrams

    return pmi_bigrams(
        _t(spark, sf_dir, "documents"),
        min_count=PMI_MIN_COUNT, top_n=PMI_TOP_N,
    )


def _q_exemplars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-review exemplars (sampling.exemplars_per_
    group): exactly 3 rows per language ranked by (LCG hash of id, id) —
    replayable "random-looking" samples; WindowGroupLimit bounds each
    map task's contribution at k per group (plan-contracted in tests)."""
    from kaer_spark.operators.sampling import exemplars_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return exemplars_per_group(docs, "lang", k=3)


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty (ranking.ngram_novelty): fraction of the doc's
    distinct word 3-grams occurring in NO other document — the
    self-corpus boilerplate/template signal (low novelty = assembled
    from text the corpus already has; the quality-cut dimension dedup
    passes miss). One gram-keyed df count + join back, nothing
    collected."""
    from kaer_spark.operators.ranking import ngram_novelty

    return ngram_novelty(
        _t(spark, sf_dir, "documents"), n=CONTAM_N
    )


BLOOM_M_BITS = 1 << 16  # undersized on purpose so FPs are exercised at scale
BLOOM_K = 4
BLOOM_SEED = 1337


def _q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitset decontamination (contamination.bloom_contamination_
    report): train docs (doc_id % 97 != 0) with ≥1 word 3-gram whose k=4
    Bloom bits are all set in the 2^16-bit bitset built from the benchmark
    slice — the constant-size-broadcast twin of contamination_report whose
    corpus side is a pure scan+filter (the bitset crossJoins in as ONE
    broadcast row; membership is inline int64 bit arithmetic). The
    deterministic universal-hash family makes the exact false-positive set
    SQL-replayable: the oracle recomputes every bit position."""
    from kaer_spark.operators.contamination import bloom_contamination_report

    docs = _t(spark, sf_dir, "documents")
    test = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD == 0)
    train = docs.filter(F.col("doc_id") % CONTAM_TEST_MOD != 0)
    return bloom_contamination_report(
        train, test, n=CONTAM_N, unit="word",
        m_bits=BLOOM_M_BITS, k_hashes=BLOOM_K, seed=BLOOM_SEED,
    )


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_GAP_NS = 24 * 3600 * 1_000_000_000  # each step within 24h of the last


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view→click→purchase with a 24h per-step window:
    one shuffle (groupBy user) + an O(events) array fold (operators.funnel).
    Oracle: the chained-min CTE formulation — provably the same greedy
    anchoring."""
    from kaer_spark.operators.funnel import funnel

    return funnel(
        _events(spark, sf_dir), FUNNEL_STEPS, max_gap=FUNNEL_GAP_NS
    )


def _q_dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the MinHash near-dup pairs: connected
    components via iterative min-label propagation (operators.dedup.
    dedup_clusters), labeled by the component's min id. Oracle: the same
    closure as a DuckDB recursive CTE — the fixpoint IS SQL-expressible
    for the oracle even though the Spark side must iterate."""
    from kaer_spark.operators.dedup import dedup_clusters, minhash_near_dups

    pairs = minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD,
        seed=42,
    )
    return dedup_clusters(pairs)


def _q_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the fake media column — offsets are
    pure Catalyst (sequence over duration metadata), so oracle-checkable."""
    from kaer_spark.operators.multimodal import attach_fake_media, sample_frames

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    out = sample_frames(media, every_ms=1000)
    return out.select(
        "doc_id",
        F.size("frame_offsets_ms").cast("long").alias("n_frames"),
        F.concat_ws(",", F.col("frame_offsets_ms")).alias("offsets_csv"),
    )


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-resample resize, now FULLY oracle-checked: the
    fake decode is ``out[i] = src[(i*n)//(w*h)]`` over the blob's bytes, a
    pure indexing formula DuckDB replays with generate_series + per-byte
    hex slicing. The compared digest is md5 over the HEX of the resized
    blob (not the raw bytes) because DuckDB's md5 only takes VARCHAR —
    same uppercase hex alphabet on both engines."""
    from kaer_spark.operators.multimodal import attach_fake_media, resize_images

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    out = resize_images(media, width=32, height=16)
    return out.select(
        "doc_id", "out_width", "out_height",
        F.md5(F.hex(F.col("resized"))).alias("digest"),
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kaer_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    feats = extract_media_features(media, digest="md5")
    # histogram serialized to CSV: array-typed outputs don't hash portably
    return feats.select(
        "doc_id",
        "n_bytes",
        "byte_mean",
        F.array_join(
            F.transform("byte_histogram", lambda x: x.cast("string")), ","
        ).alias("hist_csv"),
        "content_digest",
    )


# ---------------------------------------------------------------------------
# round-5 training-pipeline additions: ranking, sampling, packing, cohort
# ---------------------------------------------------------------------------
BM25_TERMS = ["join", "hash", "scan"]  # high-df fixture vocabulary
PACK_MAX_TOKENS = 2_048
PACK_SHARDS = 8
SHARD_MANIFEST_SHARDS = 8
BPE_MERGES = 6
MINHASH_RECALL_PERMILLE = 500
QUOTA_PER_SOURCE = 10
SAMPLE_RATE_PERMILLE = 100  # ~10%
# domain-reweighting mix: named sources keep these permille rates, the
# long tail keeps MIX_DEFAULT_PERMILLE
MIX_RATES = {"src0": 500, "src1": 250, "src2": 125}
MIX_DEFAULT_PERMILLE = 50


def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rational-idf BM25 over the fixture vocabulary (operators.ranking):
    one corpus-stats aggregate broadcast back into a scan-shaped score
    projection; every op is IEEE double +,*,/ in pinned association order,
    so the oracle replays the exact bits (no ln — see module docstring)."""
    from kaer_spark.operators.ranking import bm25_scores

    return bm25_scores(_t(spark, sf_dir, "documents"), BM25_TERMS)


def _q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: LCG-hash bucket filter, zero
    shuffle, identical selection on every run/engine/retry (the rand()
    pitfall — task retries resample — engineered out)."""
    from kaer_spark.operators.sampling import hash_sample, sample_bucket

    kept = hash_sample(
        _t(spark, sf_dir, "documents"), rate_permille=SAMPLE_RATE_PERMILLE
    )
    return kept.select("doc_id", "source", sample_bucket("doc_id").alias("bucket"))


def _q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (operators.sampling.quota_per_group): keep the
    10 smallest doc_ids per source via the two-level pre-cap path; reported
    as per-source kept-count + id range so the oracle checks the cap AND
    the deterministic representative choice."""
    from kaer_spark.operators.sampling import quota_per_group

    kept = quota_per_group(
        _t(spark, sf_dir, "documents"), "source", "doc_id",
        quota=QUOTA_PER_SOURCE, sub_shards=4,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi/Pile-style source reweighting (operators.sampling
    weighted_mix): per-source keep rates folded into one scan-stage CASE
    predicate over the deterministic LCG bucket — no join, no shuffle
    until the reporting agg; monotone in the rate so re-mixes nest."""
    from kaer_spark.operators.sampling import weighted_mix

    kept = weighted_mix(
        _t(spark, sf_dir, "documents"), "source", MIX_RATES,
        default_permille=MIX_DEFAULT_PERMILLE,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators.packing): sharded
    window cumsum → integer DIV pack index → per-pack fill stats."""
    from kaer_spark.operators.packing import pack_sequences, pack_stats

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"),
        max_tokens=PACK_MAX_TOKENS, shards=PACK_SHARDS,
    )
    return pack_stats(packed)


def _q_histogram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range integer histogram of n_chars (pipelines.histogram):
    all-integer bucketing (DIV, clamp) — no float boundary wobble; one
    map-side-combined aggregate."""
    from kaer_spark.pipelines import histogram

    return histogram(_t(spark, sf_dir, "documents"), "n_chars", bins=16, lo=0, hi=640)


def _q_top_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-25% quality cut (pipelines.top_quality_fraction):
    integer rank cut, ties by id; reported per (lang) as kept-count +
    quality range so the oracle checks the cut AND the ordering."""
    from kaer_spark.pipelines import top_quality_fraction

    kept = top_quality_fraction(
        _t(spark, sf_dir, "documents"), keep_permille=250, by="lang"
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("quality").alias("min_quality"),
        F.min("doc_id").alias("min_id"),
    )


def _q_sliding_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day sliding daily rollup (operators.rollup.sliding_rollup):
    daily agg then a RANGE window over the integer day index; the moving
    value sum re-accumulates in DECIMAL (order-free, hence replayable)."""
    from kaer_spark.operators.rollup import sliding_rollup

    return sliding_rollup(_events(spark, sf_dir), width_days=7)


def _q_training_mix_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-construction pipeline
    (pipelines.training_mix_pipeline): reweighted mix → per-lang quality
    cut → exact dedup → sequence packing, one Catalyst plan; the oracle
    chains the four stages' already-verified SQL replays."""
    from kaer_spark.pipelines import training_mix_pipeline

    return training_mix_pipeline(
        _t(spark, sf_dir, "documents"),
        rates_permille=MIX_RATES, default_permille=MIX_DEFAULT_PERMILLE,
        keep_permille=500, max_tokens=PACK_MAX_TOKENS, shards=PACK_SHARDS,
    )


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over events (operators.cohort):
    first-seen window + distinct (user, offset) count, integer epoch-nanos
    arithmetic end-to-end."""
    from kaer_spark.operators.cohort import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# round-7 driver surface for the round-6 operators (VERDICT r6 ask #2)
# ---------------------------------------------------------------------------
# per-source TOKEN budgets (chars-scale numbers so every source is clipped
# somewhere across the sf fixtures) for token_budget_mix
TOKEN_BUDGETS = {"src0": 5_000, "src1": 2_000, "src2": 800}
TOKEN_BUDGET_DEFAULT = 1_000
TOKEN_BUDGET_SHARDS = 8
TEMP_TAU = 0.7  # temperature-sampling flattening exponent (XLM-R's value)
# (cell_decimals, avg_decimals) for the oracle-replayable bigram-LM mode:
# log() is the one transcendental the engine can't replay bit-exactly
# (JVM Math.log vs libm ln differ by 1 ulp on ~5% of inputs — measured),
# so per-bigram logps quantize to a 1e-12 decimal grid (exact,
# order-independent decimal sums) and the per-doc average rounds to 1e-6,
# absorbing grid-boundary stragglers. See operators.ranking docstring.
BIGRAM_QUANTIZE = (12, 6)
TB_PIPE_MAX_TOKENS = 512  # packing budget for the composed token pipeline


def _q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgets (operators.sampling.token_budget_mix):
    keep each source's docs in LCG-hash order until the cumulative n_chars
    crosses its budget — the "N tokens of source X" mix primitive. Pure
    integer math (sharded exclusive cumsum + broadcast shard offsets), so
    the oracle replays the exact selection; reported per-source."""
    from kaer_spark.operators.sampling import token_budget_mix

    kept = token_budget_mix(
        _t(spark, sf_dir, "documents"), "source", TOKEN_BUDGETS,
        token_col="n_chars", default_budget=TOKEN_BUDGET_DEFAULT,
        shards=TOKEN_BUDGET_SHARDS,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temperature_rates(τ=0.7) feeding weighted_mix: the multilingual
    flattening rule (rate_i ∝ n_i^(τ-1), max-rate language pinned at
    1000‰) realized as the zero-shuffle bucket predicate. The oracle
    re-derives the rates IN SQL from the same counts (pow + round — libm
    pow agrees bit-for-bit between CPython and DuckDB on this box; the
    rounding boundary would need a 1e-13-relative coincidence)."""
    from kaer_spark.operators.sampling import temperature_rates, weighted_mix

    docs = _t(spark, sf_dir, "documents")
    rates = temperature_rates(docs, "lang", tau=TEMP_TAU)
    kept = weighted_mix(docs, "lang", rates, default_permille=0)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM fluency scores (operators.ranking.
    bigram_lm_scores) in the quantized oracle mode — the CCNet-style
    signal with its add-1 model aggregated from the corpus itself."""
    from kaer_spark.operators.ranking import bigram_lm_scores

    return bigram_lm_scores(
        _t(spark, sf_dir, "documents"), quantize=BIGRAM_QUANTIZE
    )


def _q_bigram_lm_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-trained reference-model scoring (bigram_lm_fit on the even-id
    half, scoring the odd-id half): unseen bigrams take the smoothing
    floor via left joins — the train-on-Wikipedia / score-the-crawl
    workflow on a parity split of the fixture."""
    from kaer_spark.operators.ranking import bigram_lm_fit, bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    model = bigram_lm_fit(docs.filter(F.col("doc_id") % 2 == 0))
    return bigram_lm_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        model=model, quantize=BIGRAM_QUANTIZE,
    )


def _q_ivf_knn_join_factory(metric: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cell-equi-join kNN join (similarity.ivf_knn_join) probed at
        nprobe = cells: every cell probed ⇒ results are EXACT, so the
        whole no-broadcast join machinery (spread fit, cell assignment,
        probe explode, per-query window top-k) carries a full value
        oracle — the same full-probe ≡ exact identity the IVF sweep
        asserts. Recall at partial probe is covered by pytest."""
        from kaer_spark.operators.similarity import ivf_knn_join

        embs = _t(spark, sf_dir, "embeddings")
        queries_df = (
            embs.orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        return ivf_knn_join(
            queries_df, embs, k=5, cells=8, nprobe=8,
            corpus_id_col="vec_id", metric=metric,
        )

    return run


def _q_dedup_minhash_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash near-dups (dedup.minhash_near_dups_between) on
    the parity split of documents: even-id corpus vs odd-id corpus, same
    seeds both sides — the incremental-crawl/decontamination shape. The
    oracle computes signatures once globally (identical math) and keeps
    only even×odd band collisions."""
    from kaer_spark.operators.dedup import minhash_near_dups_between

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dups_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD, seed=42,
    )


def _q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.dedup_against — the one-call incremental-ingest filter: the
    even-id corpus minus everything near-duplicating the odd-id corpus
    (band join strictly across corpora, anti-join removal, nothing
    collected)."""
    from kaer_spark.operators.dedup import dedup_against

    docs = _t(spark, sf_dir, "documents")
    return dedup_against(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD, seed=42,
    ).select("doc_id", "lang", "source")


def _q_jaccard_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[r17] Cross-corpus EXACT n-gram Jaccard (dedup.ngram_jaccard_
    between) on the parity split: even-id probe corpus vs odd-id
    reference corpus — the deterministic twin of dedup_minhash_between
    (no hashing approximation, so the oracle replays the arithmetic
    directly). The doc-freq cap is computed on the REFERENCE side only
    (the side the screen is defined against — matching the at-rest
    serving twin, where the hot set comes from the artifact)."""
    from kaer_spark.operators.dedup import ngram_jaccard_between

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_doc_freq=JACCARD_MAX_DF,
    )


def _ensure_between_shingle_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-serve-many handle to the at-rest shingle index over the
    ODD-id reference corpus (dedup.build_shingle_index) — the fixed
    benchmark side of the recurring deterministic-Jaccard screen. Same
    fingerprint memoization as the other fixture artifacts."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_meta,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|odd|n={JACCARD_N}|mdf={JACCARD_MAX_DF}|char".encode()
    ).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"kaer_shingle_ref_index_{tag}"
    )
    try:
        meta = read_shingle_index_meta(path)
        if meta.get("source_fp") == fp:
            return path
    except (OSError, ValueError):
        pass
    build_shingle_index(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1),
        path, n=JACCARD_N, max_doc_freq=JACCARD_MAX_DF,
    )
    import json as _json

    meta = read_shingle_index_meta(path)
    meta["source_fp"] = fp
    tmp = os.path.join(path, "shingle_index.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "shingle_index.json"))
    return path


def _q_jaccard_against_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[r17] jaccard_between served from the at-rest reference artifact
    (dedup.ngram_jaccard_against_index): the probe side pays shingling
    only; postings, kept-set sizes, and the hot set read straight off
    the odd-corpus shingle index. Value-identical to the from-text cross
    call by construction, so the oracle is the SAME replay — build/serve
    drift (stale hot set, uncorrected sizes) lands as a value
    mismatch."""
    from kaer_spark.operators.dedup import ngram_jaccard_against_index

    path = _ensure_between_shingle_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0),
        threshold=JACCARD_THRESHOLD,
    )


def _q_containment_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[r17] Cross-corpus Broder containment (dedup.ngram_containment_
    between) on the parity split — the subset/quote decontamination
    detector: a short reference doc embedded in a long probe doc scores
    containment ≈ 1 where cross-Jaccard stays tiny. Same reference-side
    cap as jaccard_between (shared pair core)."""
    from kaer_spark.operators.dedup import ngram_containment_between

    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=JACCARD_N, threshold=CONTAIN_BETWEEN_THRESHOLD,
        max_doc_freq=JACCARD_MAX_DF,
    )


def _q_containment_against_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[r17] containment_between served from the SAME at-rest odd-corpus
    shingle artifact as jaccard_against_indexed — one build feeds both
    cross-corpus scorers (Broder 1997: resemblance and containment are
    projections over the same pair counts). Same from-text oracle;
    build/serve drift lands as a value mismatch."""
    from kaer_spark.operators.dedup import ngram_containment_against_index

    path = _ensure_between_shingle_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0),
        threshold=CONTAIN_BETWEEN_THRESHOLD,
    )


def _ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-serve-many handle to the at-rest decontamination index
    (dedup.build_minhash_index) over the ODD-id reference corpus — the
    fixed eval/benchmark side of the recurring screening regime. Same
    fingerprint memoization as the other fixture artifacts."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_index_meta,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|mh|n={JACCARD_N}|h={MINHASH_HASHES}|b={MINHASH_BANDS}|odd"
        .encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_minhash_index_{tag}")
    try:
        meta = read_minhash_index_meta(path)
        if meta.get("source_fp") == fp:
            return path
    except (OSError, ValueError):
        pass
    build_minhash_index(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1),
        path, n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        seed=42,
    )
    import json as _json

    meta = read_minhash_index_meta(path)
    meta["source_fp"] = fp
    tmp = os.path.join(path, "minhash_index.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "minhash_index.json"))
    return path


def _q_dedup_against_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_against served from the AT-REST reference artifact
    (dedup.dedup_against_index — r14: the canonical recurring regime is
    screening every new batch against the SAME benchmark corpus, yet the
    from-text call re-signed, re-banded, and re-shingled the reference
    each time): the even-id corpus minus near-dups of the BUILT odd-id
    index. Banding params come from the sidecar, so both sides always
    hash alike; value-identical to dedup_against by construction — same
    oracle, build/serve drift = value mismatch."""
    from kaer_spark.operators.dedup import dedup_against_index

    docs = _t(spark, sf_dir, "documents")
    path = _ensure_minhash_index(spark, sf_dir)
    return dedup_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0),
        threshold=JACCARD_THRESHOLD,
    ).select("doc_id", "lang", "source")


MH_CATCHUP_CUT = 250  # prefix/tail split for the catch-up fixture
MH_CATCHUP_THRESHOLD = 0.35  # distinct geometry from the between/indexed rows


def _ensure_minhash_index_catchup(spark: SparkSession, sf_dir: str) -> str:
    """The catch-up twin of :func:`_ensure_minhash_index` (the
    pq_index_catchup recipe): BUILD over the odd-id prefix (doc_id <
    MH_CATCHUP_CUT), then REFRESH with the full odd-id reference —
    dedup.refresh_minhash_index appends the tail's band keys and text
    rows under the sidecar-frozen hashing, no rebuild. A refresh bug
    (missed/duplicated tail rows, drifted hashing) surfaces as a value
    mismatch in the served pairs, because the oracle replays the
    from-scratch build over the UNION."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_index_meta,
        refresh_minhash_index,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|mh|n={JACCARD_N}|h={MINHASH_HASHES}|b={MINHASH_BANDS}"
        f"|odd|catchup<{MH_CATCHUP_CUT}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_minhash_catchup_{tag}")
    try:
        meta = read_minhash_index_meta(path)
        if meta.get("source_fp") == fp and meta.get("caught_up"):
            return path
    except (OSError, ValueError):
        pass
    odd = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    build_minhash_index(
        odd.filter(F.col("doc_id") < MH_CATCHUP_CUT), path,
        n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        seed=42,
    )
    meta = refresh_minhash_index(odd, path)
    meta["source_fp"] = fp
    meta["caught_up"] = True
    write_sidecar(os.path.join(path, "minhash_index.json"), meta)
    return path


def _q_minhash_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 catch-up (reference updateIndexFromLastId, db/db.go:191-207)
    for the MinHash decontamination artifact, proven through the value
    gate: the index is built on the odd-id PREFIX and refreshed with the
    full odd-id reference, then serves cross-corpus near-dup pairs for
    the even-id side. The oracle replays the from-scratch pipeline over
    the whole reference, so refreshed-index ≡ rebuilt-index is checked
    value-exactly — the dedup-family twin of pq_index_catchup. Distinct
    geometry from dedup_minhash_between (threshold 0.35 vs 0.4)."""
    from kaer_spark.operators.dedup import minhash_near_dups_against_index

    docs = _t(spark, sf_dir, "documents")
    path = _ensure_minhash_index_catchup(spark, sf_dir)
    return minhash_near_dups_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0),
        threshold=MH_CATCHUP_THRESHOLD,
    ).select("left_id", "right_id", "jaccard")


def _q_minhash_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report for the at-rest MinHash reference index
    (dedup.minhash_index_stats — r15 verdict #2: the observability sweep
    covered IVF/PQ/shingle/text but left the two decontamination-serving
    band indexes blind), run over the CATCH-UP fixture (odd-id prefix
    build + full-odd refresh) so the row reports exactly the state the
    screen serves from. The oracle replays signatures → band keys →
    bucket histogram from the documents table, so a refresh that
    duplicated or dropped band/shingle rows lands as a count/quantile
    value mismatch, not just a served-pairs mismatch."""
    from kaer_spark.operators.dedup import minhash_index_stats

    path = _ensure_minhash_index_catchup(spark, sf_dir)
    return minhash_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "documents"),
        corpus_id_col="doc_id",
    )


def _sql_minhash_index_stats() -> str:
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    n = JACCARD_N
    coeffs = minhash_coeffs(MINHASH_HASHES, 42)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    slots = ", ".join(
        f"list_min(list_transform(fps, f -> (f * {a} + {b}) % {HASH_MOD})) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, "
        + " || ',' || ".join(
            f"CAST(s{bi * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + " AS key FROM sigs"
        for bi in range(MINHASH_BANDS)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n} AND doc_id % 2 = 1
        ),
        fps AS (SELECT id, shingles,
                       list_transform(shingles, s -> {_sql_poly_hash('s')}) AS fps
                FROM sh),
        sigs AS (SELECT id, {slots} FROM fps),
        banded AS ({band_selects}),
        bt AS (SELECT band, key, count(*) AS bc FROM banded GROUP BY band, key),
        bk AS (SELECT count(*) AS nb, sum(bc) AS rows, max(bc) AS mx FROM bt),
        rb AS (SELECT bc, row_number() OVER (ORDER BY bc, band, key) AS rn FROM bt),
        sz AS (SELECT id, len(shingles) AS s FROM sh),
        sk AS (SELECT count(*) AS nd, max(s) AS mxs FROM sz),
        rs AS (SELECT s, row_number() OVER (ORDER BY s, id) AS rn FROM sz)
        SELECT CAST(sk.nd AS BIGINT) AS n_docs,
               CAST(bk.rows AS BIGINT) AS n_band_rows,
               CAST(bk.nb AS BIGINT) AS n_buckets,
               CAST(bk.mx AS BIGINT) AS max_bucket,
               CAST(bk.mx * bk.nb AS DOUBLE) / CAST(bk.rows AS BIGINT)
                 AS bucket_skew,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (bk.nb + 1) // 2) AS p50_bucket_sz,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (9 * bk.nb + 9) // 10) AS p90_bucket_sz,
               (SELECT CAST(s AS BIGINT) FROM rs
                WHERE rn = (sk.nd + 1) // 2) AS p50_doc_shingles,
               (SELECT CAST(s AS BIGINT) FROM rs
                WHERE rn = (9 * sk.nd + 9) // 10) AS p90_doc_shingles,
               CAST(sk.mxs AS BIGINT) AS max_doc_shingles,
               CAST({MINHASH_HASHES} AS BIGINT) AS num_hashes,
               CAST({MINHASH_BANDS} AS BIGINT) AS num_bands,
               CAST((SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark,
               CAST((SELECT max(doc_id) FROM documents)
                    - (SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark_lag
        FROM bk, sk
    """


def _ensure_signlsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-serve-many handle to the at-rest EMBEDDING
    decontamination index (dedup.build_signlsh_index) over the ODD-id
    reference vectors — the semantic twin of :func:`_ensure_minhash_index`."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        read_signlsh_index_meta,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|sl|b={COSINE_LSH_BANDS}|k={COSINE_LSH_BITS}"
        f"|s={COSINE_LSH_SEED}|odd".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_signlsh_index_{tag}")
    try:
        meta = read_signlsh_index_meta(path)
        if meta.get("source_fp") == fp:
            return path
    except (OSError, ValueError):
        pass
    build_signlsh_index(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 1),
        path, bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    )
    import json as _json

    meta = read_signlsh_index_meta(path)
    meta["source_fp"] = fp
    tmp = os.path.join(path, "signlsh_index.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "signlsh_index.json"))
    return path


SL_CATCHUP_CUT = 250  # prefix/tail split for the embedding catch-up fixture
SL_CATCHUP_THRESHOLD = 0.40  # distinct geometry from the between/indexed rows


def _ensure_signlsh_index_catchup(spark: SparkSession, sf_dir: str) -> str:
    """The embedding twin of :func:`_ensure_minhash_index_catchup`: BUILD
    the sign-LSH reference index over the odd-id prefix (vec_id <
    SL_CATCHUP_CUT), then REFRESH with the full odd-id reference —
    dedup.refresh_signlsh_index keys the tail through the sidecar-frozen
    planes and appends. The oracle replays the from-scratch build over
    the union, so refresh ≡ rebuild is value-checked."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        read_signlsh_index_meta,
        refresh_signlsh_index,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|sl|b={COSINE_LSH_BANDS}|k={COSINE_LSH_BITS}"
        f"|s={COSINE_LSH_SEED}|odd|catchup<{SL_CATCHUP_CUT}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_signlsh_catchup_{tag}")
    try:
        meta = read_signlsh_index_meta(path)
        if meta.get("source_fp") == fp and meta.get("caught_up"):
            return path
    except (OSError, ValueError):
        pass
    odd = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 1)
    build_signlsh_index(
        odd.filter(F.col("vec_id") < SL_CATCHUP_CUT), path,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    )
    meta = refresh_signlsh_index(odd, path)
    meta["source_fp"] = fp
    meta["caught_up"] = True
    write_sidecar(os.path.join(path, "signlsh_index.json"), meta)
    return path


def _q_signlsh_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 catch-up for the EMBEDDING decontamination artifact, proven
    through the value gate (the sign-LSH twin of minhash_index_catchup):
    prefix build + refresh with the full odd-id reference, then serve
    cross-corpus cosine near-dup pairs for the even-id side against an
    oracle that replays the from-scratch build over the union — a missed
    or duplicated tail row, or planes drifting between build and
    refresh, lands as a value mismatch. Distinct geometry from
    embedding_dups_between (threshold 0.40 vs 0.35)."""
    from kaer_spark.operators.dedup import embedding_dups_against_index

    embs = _t(spark, sf_dir, "embeddings")
    path = _ensure_signlsh_index_catchup(spark, sf_dir)
    return embedding_dups_against_index(
        spark, path, embs.filter(F.col("vec_id") % 2 == 0),
        threshold=SL_CATCHUP_THRESHOLD,
    )


FZ_CATCHUP_CUT = 250  # prefix/tail split for the fuzzy catch-up fixture
FZ_CATCHUP_KEYLEN = 24  # distinct geometry from fuzzy_dups_between (32)


def _ensure_fuzzy_index_catchup(spark: SparkSession, sf_dir: str) -> str:
    """The PassJoin member of the catch-up fixture family
    (minhash/signlsh/shingle precedent): BUILD the segment index over
    the odd-id prefix (doc_id < FZ_CATCHUP_CUT), then REFRESH with the
    full odd-id reference — dedup.refresh_fuzzy_index keys and segments
    the tail under the sidecar-frozen geometry and appends. The oracle
    replays the brute-force cross product over the WHOLE reference, so
    refresh ≡ rebuild is value-checked."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_fuzzy_index,
        read_fuzzy_index_meta,
        refresh_fuzzy_index,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|fz|k=2|len={FZ_CATCHUP_KEYLEN}|odd|catchup<{FZ_CATCHUP_CUT}"
        .encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_fuzzy_catchup_{tag}")
    try:
        meta = read_fuzzy_index_meta(path)
        if meta.get("source_fp") == fp and meta.get("caught_up"):
            return path
    except (OSError, ValueError):
        pass
    odd = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    build_fuzzy_index(
        odd.filter(F.col("doc_id") < FZ_CATCHUP_CUT), path,
        max_edits=2, key_len=FZ_CATCHUP_KEYLEN,
    )
    meta = refresh_fuzzy_index(odd, path)
    meta["source_fp"] = fp
    meta["caught_up"] = True
    write_sidecar(os.path.join(path, "fuzzy_index.json"), meta)
    return path


def _q_fuzzy_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 catch-up (reference updateIndexFromLastId, db/db.go:191-207)
    for the at-rest fuzzy (PassJoin) artifact, proven through the value
    gate — the LAST recurring-decontamination family gets its standing
    index (r15 verdict #5): built on the odd-id prefix, refreshed with
    the full odd-id reference, then serving edit-distance pairs for the
    even-id probe side. The oracle replays the brute-force cross product
    over the whole reference, so a refresh that missed, duplicated, or
    re-keyed tail segments lands as a value mismatch. Distinct geometry
    from fuzzy_dups_between (key_len 24 vs 32)."""
    from kaer_spark.operators.dedup import fuzzy_dups_against_index

    docs = _t(spark, sf_dir, "documents")
    path = _ensure_fuzzy_index_catchup(spark, sf_dir)
    return fuzzy_dups_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0)
    )


def _sql_fuzzy_index_catchup() -> str:
    """Brute-force even-probe × odd-reference ground truth at the
    catch-up geometry (key_len 24, max_edits 2)."""
    key = (
        "rpad(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),"
        f" 1, {FZ_CATCHUP_KEYLEN}), {FZ_CATCHUP_KEYLEN}, ' ')"
    )
    return f"""
        WITH k AS (
          SELECT doc_id, {key} AS key
          FROM documents
          WHERE length(trim(text)) > 0
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_distance
        FROM k a JOIN k b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        WHERE levenshtein(a.key, b.key) <= 2
    """


def _q_fuzzy_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report for the at-rest fuzzy (PassJoin) reference index
    (dedup.fuzzy_index_stats), over the catch-up fixture — the seventh
    family's stats twin, landing in the same round as its artifact so
    the observability sweep closes for good: blocking-key histogram +
    skew (sizes the max_key_df escape hatch), geometry echo, typed
    watermark + lag vs the full documents table. The oracle replays
    key normalization → compile-time segment cuts → bucket histogram."""
    from kaer_spark.operators.dedup import fuzzy_index_stats

    path = _ensure_fuzzy_index_catchup(spark, sf_dir)
    return fuzzy_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "documents"),
        corpus_id_col="doc_id",
    )


def _sql_fuzzy_index_stats() -> str:
    from kaer_spark.operators.dedup import _fuzzy_bounds

    bounds = _fuzzy_bounds(FZ_CATCHUP_KEYLEN, 2)
    key = (
        "rpad(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),"
        f" 1, {FZ_CATCHUP_KEYLEN}), {FZ_CATCHUP_KEYLEN}, ' ')"
    )
    seg_selects = " UNION ALL ".join(
        f"SELECT id, {i} AS i, substr(key, {p + 1}, {l}) AS seg FROM k"
        for i, (p, l) in enumerate(bounds)
    )
    return f"""
        WITH k AS (
          SELECT doc_id AS id, {key} AS key
          FROM documents
          WHERE length(trim(text)) > 0 AND doc_id % 2 = 1
        ),
        seg AS ({seg_selects}),
        bt AS (SELECT i, seg, count(*) AS bc FROM seg GROUP BY i, seg),
        bk AS (SELECT count(*) AS nb, sum(bc) AS rows, max(bc) AS mx FROM bt),
        rb AS (SELECT bc, row_number() OVER (ORDER BY bc, i, seg) AS rn FROM bt),
        nd AS (SELECT count(*) AS n FROM k)
        SELECT CAST(nd.n AS BIGINT) AS n_docs,
               CAST(bk.nb AS BIGINT) AS n_buckets,
               CAST(bk.rows AS BIGINT) AS n_seg_rows,
               CAST(bk.mx AS BIGINT) AS max_bucket,
               CAST(bk.mx * bk.nb AS DOUBLE) / CAST(bk.rows AS BIGINT)
                 AS bucket_skew,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (bk.nb + 1) // 2) AS p50_bucket_sz,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (9 * bk.nb + 9) // 10) AS p90_bucket_sz,
               CAST(2 AS BIGINT) AS max_edits,
               CAST({FZ_CATCHUP_KEYLEN} AS BIGINT) AS key_len,
               CAST((SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark,
               CAST((SELECT max(doc_id) FROM documents)
                    - (SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark_lag
        FROM bk, nd
    """


def _q_signlsh_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report for the at-rest sign-LSH reference index
    (dedup.signlsh_index_stats), over the catch-up fixture — the
    embedding member closing the observability sweep: band-bucket
    histogram/skew, stored-norm spread (read from the rows the verify
    actually uses, so provider drift shows here first), geometry echo,
    watermark + lag vs the full embeddings table. The oracle replays the
    seeded planes → band keys → bucket histogram and the norm fold
    bit-exactly from the embeddings table."""
    from kaer_spark.operators.dedup import signlsh_index_stats

    path = _ensure_signlsh_index_catchup(spark, sf_dir)
    return signlsh_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "embeddings"),
        corpus_id_col="vec_id",
    )


def _sql_signlsh_index_stats() -> str:
    from kaer_spark.operators.dedup import signlsh_planes

    planes = signlsh_planes(
        len(QVEC), COSINE_LSH_BANDS * COSINE_LSH_BITS, COSINE_LSH_SEED
    )

    def band_key(vec: str, band: int) -> str:
        return _sql_signlsh_band_key(
            vec, planes[band * COSINE_LSH_BITS : (band + 1) * COSINE_LSH_BITS]
        )

    inv = "\n          UNION ALL ".join(
        f"SELECT vec_id AS id, {b} AS band, "
        f"{band_key('embedding', b)} AS key FROM e"
        for b in range(COSINE_LSH_BANDS)
    )
    nrm = f"sqrt({_sql_dot_cols('embedding', 'embedding')})"
    return f"""
        WITH e AS (
          SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
          WHERE vec_id % 2 = 1
        ),
        inv AS (
          {inv}
        ),
        bt AS (SELECT band, key, count(*) AS bc FROM inv GROUP BY band, key),
        bk AS (SELECT count(*) AS nb, sum(bc) AS rows, max(bc) AS mx FROM bt),
        rb AS (SELECT bc, row_number() OVER (ORDER BY bc, band, key) AS rn FROM bt),
        nk AS (SELECT count(*) AS nv, min(nrm) AS mn, max(nrm) AS mx FROM e),
        rn AS (SELECT nrm, row_number() OVER (ORDER BY nrm, vec_id) AS rn FROM e)
        SELECT CAST(nk.nv AS BIGINT) AS n_vecs,
               nk.mn AS min_norm,
               nk.mx AS max_norm,
               CAST(bk.nb AS BIGINT) AS n_buckets,
               CAST(bk.rows AS BIGINT) AS n_band_rows,
               CAST(bk.mx AS BIGINT) AS max_bucket,
               CAST(bk.mx * bk.nb AS DOUBLE) / CAST(bk.rows AS BIGINT)
                 AS bucket_skew,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rb.rn = (bk.nb + 1) // 2) AS p50_bucket_sz,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rb.rn = (9 * bk.nb + 9) // 10) AS p90_bucket_sz,
               (SELECT nrm FROM rn
                WHERE rn.rn = (nk.nv + 1) // 2) AS p50_norm,
               CAST({len(QVEC)} AS BIGINT) AS dim,
               CAST({COSINE_LSH_BANDS} AS BIGINT) AS num_bands,
               CAST({COSINE_LSH_BITS} AS BIGINT) AS bits_per_band,
               CAST((SELECT max(vec_id) FROM embeddings WHERE vec_id % 2 = 1)
                    AS BIGINT) AS watermark,
               CAST((SELECT max(vec_id) FROM embeddings)
                    - (SELECT max(vec_id) FROM embeddings WHERE vec_id % 2 = 1)
                    AS BIGINT) AS watermark_lag
        FROM bk, nk
    """


INGEST_ID_SHIFT = 1_000_000  # batch ids provably above any fixture watermark


def _clone_index_fixture(base: str, kind: str) -> tuple[str, str]:
    """Per-call working copy of an immutable index fixture for the
    streaming-ingest rows: the ingest batch REFRESHES its index (appends
    + watermark flip), so each measurement clones the fixture and mutates
    the clone — bench reps and the driver's correctness run then all
    measure identical work. One deterministic work dir per fixture,
    recreated per call (no temp-dir accumulation across reps)."""
    import os
    import shutil
    import tempfile

    tag = os.path.basename(base).rsplit("_", 1)[-1]
    work = os.path.join(
        tempfile.gettempdir(), f"kaer_{kind}_ingest_replay_{tag}"
    )
    if os.path.exists(work):
        shutil.rmtree(work)
    idx = os.path.join(work, "idx")
    shutil.copytree(base, idx)
    return idx, os.path.join(work, "out")


def _q_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One streaming near-dup ingest micro-batch
    (streaming.ingest.neardup_ingest_batch — the r14 flagship subsystem,
    previously bench-invisible): the even-id corpus, re-keyed above the
    watermark, plays as one batch against a CLONE of the at-rest odd-id
    MinHash reference index, and the committed epoch partition (the
    ingested survivors) is returned. Per call the row pays the
    production per-batch cost: batch signature pass, band equi-join
    screen against stored keys, in-batch self-dedup closure, corpus
    write, batch-sized index append. The oracle replays the WHOLE chain
    in SQL — cross screen (global sigs, parity split), survivor set,
    self pairs among survivors, recursive closure, min-id
    representatives — so a drift anywhere in the composition lands as a
    value mismatch."""
    from kaer_spark.streaming.ingest import neardup_ingest_batch

    idx, out = _clone_index_fixture(
        _ensure_minhash_index(spark, sf_dir), "mh"
    )
    batch = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(INGEST_ID_SHIFT))
    )
    neardup_ingest_batch(batch, 0, idx, out, threshold=JACCARD_THRESHOLD)
    import os

    return read_parquet(spark, os.path.join(out, "epoch=0")).select(
        "doc_id", "lang", "source"
    )


def _q_streaming_embedding_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embedding twin of streaming_neardup_ingest: one
    embedding_neardup_ingest_batch of the re-keyed even-id vectors
    against a clone of the at-rest odd-id sign-LSH index (exact-cosine
    verify inside the band screen, sidecar-frozen planes on both the
    screen and the in-batch self-dedup). Same full-chain oracle shape:
    cross screen, survivors, self pairs, closure, min-id reps."""
    from kaer_spark.streaming.ingest import embedding_neardup_ingest_batch

    idx, out = _clone_index_fixture(
        _ensure_signlsh_index(spark, sf_dir), "sl"
    )
    batch = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 2 == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(INGEST_ID_SHIFT))
    )
    embedding_neardup_ingest_batch(
        batch, 0, idx, out, threshold=COSINE_DUP_THRESHOLD
    )
    import os

    return read_parquet(spark, os.path.join(out, "epoch=0")).select(
        "vec_id", "label"
    )


def _q_embedding_dups_against_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """embedding_dups_between served from the AT-REST reference artifact
    (dedup.embedding_dups_against_index — the semantic twin of
    dedup_against_indexed): even-id vectors screened against the BUILT
    odd-id index, planes re-derived from the sidecar geometry so both
    sides hash alike. Value-identical to embedding_dups_between by
    construction — same oracle."""
    from kaer_spark.operators.dedup import embedding_dups_against_index

    embs = _t(spark, sf_dir, "embeddings")
    path = _ensure_signlsh_index(spark, sf_dir)
    return embedding_dups_against_index(
        spark, path, embs.filter(F.col("vec_id") % 2 == 0),
        threshold=COSINE_DUP_THRESHOLD,
    )


def _q_embedding_dups_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus embedding near-dups (dedup.embedding_near_dups_between)
    on the parity split of embeddings: both halves hash through the SAME
    seeded planes, band join strictly even×odd, exact-cosine verify —
    semantic decontamination where lexical overlap is paraphrased away."""
    from kaer_spark.operators.dedup import embedding_near_dups_between

    embs = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups_between(
        embs.filter(F.col("vec_id") % 2 == 0),
        embs.filter(F.col("vec_id") % 2 == 1),
        threshold=COSINE_DUP_THRESHOLD,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    )


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join(direction="forward"): each click's NEXT signup at-or-after
    it per user — the next-event shape, same single-shuffle union-merge as
    the backward entry walked in the opposite direction."""
    from kaer_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    return asof_join(
        clicks, signups, on="ts", by="user_id", direction="forward"
    ).select("event_id", "user_id", "signup_event")


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join(direction="nearest"): whichever signup is closer in time
    (ties → the backward match, pandas' convention); both directional
    windows share one exchange. Gap comparison is integer epoch-nanos —
    exact on both engines."""
    from kaer_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    return asof_join(
        clicks, signups, on="ts", by="user_id", direction="nearest"
    ).select("event_id", "user_id", "signup_event")


def _q_training_mix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed multilingual token pipeline (pipelines.
    token_budget_pipeline): temperature rates → language mix → per-source
    token budgets → sequence packing, one fused plan after the bounded
    per-language count; the oracle chains each stage's verified SQL."""
    from kaer_spark.pipelines import token_budget_pipeline

    return token_budget_pipeline(
        _t(spark, sf_dir, "documents"),
        tau=TEMP_TAU, budgets=TOKEN_BUDGETS,
        default_budget=TOKEN_BUDGET_DEFAULT,
        max_tokens=TB_PIPE_MAX_TOKENS, shards=TOKEN_BUDGET_SHARDS,
    )


def _q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (ranking.dsir_scores): bigram-LM
    log-likelihood ratio between a target model (the English slice as the
    stand-in 'curated domain') and the self-trained source model of the
    whole pool — the Xie et al. 2023 data-selection signal, quantized for
    the oracle."""
    from kaer_spark.operators.ranking import dsir_scores

    docs = _t(spark, sf_dir, "documents")
    return dsir_scores(
        docs, docs.filter(F.col("lang") == "en"), quantize=BIGRAM_QUANTIZE
    )


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (ranking.perplexity_buckets):
    per-language ntile(3) over the self-trained LM fluency score — NULL
    scores (no bigrams) deal to the tail, ties break on doc_id."""
    from kaer_spark.operators.ranking import perplexity_buckets

    return perplexity_buckets(
        _t(spark, sf_dir, "documents"), quantize=BIGRAM_QUANTIZE
    )


def _q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-passage report (dedup.duplicate_passages): 24-char
    windows occurring in ≥2 distinct documents — the fixed-granularity
    exact-substring dedup signal (Lee et al. 2022); every fingerprint is
    the corpus poly-hash, replayed exactly by the oracle."""
    from kaer_spark.operators.dedup import duplicate_passages

    return duplicate_passages(
        _t(spark, sf_dir, "documents"), length=24, min_docs=2
    )


def _q_remove_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-REMOVAL transform (dedup.remove_duplicate_passages): the
    Lee-et-al rewrite completing the duplicate_passages report — flagged
    24-char windows merge into spans (gaps-and-islands) and the surviving
    text is rebuilt by a substring fold. The oracle replays fingerprints,
    span merge, and rebuild with the same poly-hash + window SQL."""
    from kaer_spark.operators.dedup import remove_duplicate_passages

    return remove_duplicate_passages(
        _t(spark, sf_dir, "documents"), length=24, min_docs=2
    )


def _q_remove_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (dedup.remove_duplicate_lines), the
    CCNet/RefinedWeb transform. The fixture corpus has no newlines, so
     'lines' are space-separated tokens with min_docs tuned (390 of 500
    docs) to split the vocabulary — half the tokens are corpus-ubiquitous
    boilerplate, half survive; the rebuild must preserve order exactly."""
    from kaer_spark.operators.dedup import remove_duplicate_lines

    return remove_duplicate_lines(
        _t(spark, sf_dir, "documents"), min_docs=LINE_DEDUP_MIN_DOCS, sep=" "
    )


def _q_remove_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition transform (dedup.remove_repeated_lines):
    a token occurring min_repeats+ times WITHIN one document collapses to
    its first occurrence (the Gopher self-repetition signal applied as a
    salvage transform, not a document drop); fixture 'lines' are
    space-separated tokens like the corpus-level twin."""
    from kaer_spark.operators.dedup import remove_repeated_lines

    return remove_repeated_lines(
        _t(spark, sf_dir, "documents"), min_repeats=3, sep=" "
    )


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semdedup, Abbas et al. 2023): deterministic
    spread-fit cells, within-cell cosine groups, keep the member farthest
    from its centroid — every stage relationally replayed (no Lloyd
    iterations anywhere, so unlike k-means SemDeDup this carries a full
    value-level oracle)."""
    from kaer_spark.operators.dedup import semdedup

    return semdedup(
        _t(spark, sf_dir, "embeddings"),
        cells=8,
        threshold=COSINE_DUP_THRESHOLD,
        keep="far",
    )


def _build_fixture_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (overwrite) the documents text index in a tmp dir keyed by
    the fixture path — shared by the index-search and indexed-hybrid
    driver entries."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.text_index import build_text_index

    path = os.path.join(
        tempfile.gettempdir(),
        "kaer_text_index_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    build_text_index(_t(spark, sf_dir, "documents"), path)
    return path


def _q_text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted-index BM25 search (operators.text_index):
    build the bucket-partitioned posting-list index, then top-10 for the
    BM25_TERMS query — query buckets computed driver-side prune the
    postings scan to matching partitions. Index-path scores are
    bit-identical to the scan-path bm25_scores (verified in tests), so
    the oracle replays the direct BM25 ranking restricted to docs holding
    at least one query term."""
    from kaer_spark.operators.text_index import search_text_index

    path = _build_fixture_text_index(spark, sf_dir)
    out = search_text_index(spark, path, list(BM25_TERMS), k=10)
    return out.select(F.col("id").alias("doc_id"), "bm25")


def _q_text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report for the positional BM25 index
    (text_index.text_index_stats — the fourth member of the r15
    index-observability set): posting mass, document-frequency and
    doclen distributions at rank-based quantiles, term-hash bucket skew
    (the partition-balance of every indexed search), watermark + lag.
    The oracle replays tokenization, per-term df, the quantile ranks,
    AND the polynomial term hash (list_reduce fold, bit-exact vs the
    engine's aggregate fold), so a drifted bucket assignment or a
    miscounted posting list lands as a value mismatch."""
    from kaer_spark.operators.text_index import text_index_stats

    path = _build_fixture_text_index(spark, sf_dir)
    return text_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "documents")
    )


def _sql_text_index_stats() -> str:
    from kaer_spark.operators.text_index import HASH_BASE, HASH_MOD

    toks = (
        "CASE WHEN trim(text) = '' THEN [] "
        "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
    )
    bucket = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split_regex(term, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD}) % 64"
    )
    return f"""
        WITH t AS (SELECT doc_id AS id, {toks} AS toks FROM documents),
        dl AS (SELECT id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        pd AS (SELECT term, id
               FROM (SELECT id, unnest(toks) AS term FROM t)
               GROUP BY term, id),
        tdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM pd GROUP BY term),
        kdf AS (SELECT count(*) AS nt, sum(df) AS np, max(df) AS mdf
                FROM tdf),
        rdf AS (SELECT df, term,
                       row_number() OVER (ORDER BY df, term) AS rn
                FROM tdf),
        kdl AS (SELECT count(*) AS nd, max(dl) AS mdl FROM dl),
        rdl AS (SELECT dl, id, row_number() OVER (ORDER BY dl, id) AS rn
                FROM dl),
        bk AS (SELECT {bucket} AS bucket, count(*) AS bc
               FROM pd GROUP BY 1),
        mb AS (SELECT max(bc) AS maxb FROM bk)
        SELECT CAST(kdl.nd AS BIGINT) AS n_docs,
               CAST(kdl.mdl AS BIGINT) AS max_dl,
               CAST(kdf.nt AS BIGINT) AS n_terms,
               CAST(kdf.np AS BIGINT) AS n_postings,
               CAST(kdf.mdf AS BIGINT) AS max_df,
               (SELECT CAST(df AS BIGINT) FROM rdf
                WHERE rn = (kdf.nt + 1) // 2) AS p50_df,
               (SELECT CAST(df AS BIGINT) FROM rdf
                WHERE rn = (9 * kdf.nt + 9) // 10) AS p90_df,
               (SELECT CAST(dl AS BIGINT) FROM rdl
                WHERE rn = (kdl.nd + 1) // 2) AS p50_dl,
               (SELECT CAST(dl AS BIGINT) FROM rdl
                WHERE rn = (9 * kdl.nd + 9) // 10) AS p90_dl,
               CAST(mb.maxb * 64 AS DOUBLE) / kdf.np AS bucket_skew,
               CAST((SELECT max(doc_id) FROM documents) AS BIGINT)
                   AS watermark,
               CAST(0 AS BIGINT) AS watermark_lag
        FROM kdl, kdf, mb
    """


PHRASE_QUERY = "fast table"


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over the POSITIONAL index (text_index.
    search_phrase): docs containing the consecutive token sequence
    'fast table', with overlapping-occurrence counts — the per-(term,
    doc) position lists turn the BM25 index into a phrase index (no
    corpus re-scan; bucket-pruned postings, candidate-bounded pivot,
    consecutive test as a pure array expression). Oracle: token-window
    count over raw documents."""
    from kaer_spark.operators.text_index import search_phrase

    path = _build_fixture_text_index(spark, sf_dir)
    out = search_phrase(spark, path, PHRASE_QUERY)
    return out.select(F.col("id").alias("doc_id"), "n_occurrences")


NEAR_SLOP = 2


def _q_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search (text_index.search_near): docs with
    'fast' followed by 'table' within slop=2 interleaved tokens — the
    greedy min-next chain is exact for existence and a pure array
    expression (slop=0 would equal the exact phrase). Oracle:
    window-bounded exists over raw token positions."""
    from kaer_spark.operators.text_index import search_near

    path = _build_fixture_text_index(spark, sf_dir)
    out = search_near(spark, path, PHRASE_QUERY, slop=NEAR_SLOP)
    return out.select(F.col("id").alias("doc_id"), "n_matches")


def _q_hybrid_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated hybrid retrieval (the r9-verdict gap): the
    lexical pool reads the MATERIALIZED text index (partition-pruned
    postings, candidate side broadcast into doclens) instead of scanning
    the corpus per query — the shape Collection.query_hybrid takes after
    build_text_index(). RRF arithmetic identical to hybrid_search; the
    lexical pool is restricted to docs holding at least one query term
    (the index never reads the rest), which the oracle mirrors with the
    same candidate CTE text_index_search uses."""
    from kaer_spark.functions.vector import l2sq
    from kaer_spark.operators.hybrid import rrf_fuse, with_rank
    from kaer_spark.operators.text_index import search_text_index

    path = _build_fixture_text_index(spark, sf_dir)
    text_top = search_text_index(spark, path, list(BM25_TERMS), k=20)
    text = with_rank(text_top, [F.col("bm25").desc(), F.col("id")])
    embs = _t(spark, sf_dir, "embeddings")
    vec_top = (
        embs.select(
            F.col("vec_id").alias("id"), l2sq("embedding", QVEC).alias("_d")
        )
        .orderBy(F.col("_d"), F.col("id"))
        .limit(20)
    )
    vec = with_rank(vec_top, [F.col("_d"), F.col("id")])
    fused = rrf_fuse(
        [text.select("id", "rank"), vec.select("id", "rank")], k=10
    )
    return fused.select(
        F.col("id").alias("doc_id"), "rrf", "rank_0", "rank_1"
    )


def _q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators.hybrid): reciprocal-rank fusion of the
    BM25 term ranking (top-20 for BM25_TERMS) and the exact vector
    ranking (top-20 l2sq to QVEC) — rrf = Σ 1/(60+rank), absent side
    contributes exact +0.0. Both component rankings already carry exact
    oracles, so the fused top-10 replays rank-for-rank."""
    from kaer_spark.functions.vector import l2sq
    from kaer_spark.operators.hybrid import rrf_fuse, with_rank
    from kaer_spark.operators.ranking import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    embs = _t(spark, sf_dir, "embeddings")
    text_top = (
        bm25_scores(docs, BM25_TERMS)
        .select(F.col("doc_id").alias("id"), "bm25")
        .orderBy(F.col("bm25").desc(), F.col("id"))
        .limit(20)
    )
    text = with_rank(text_top, [F.col("bm25").desc(), F.col("id")])
    vec_top = (
        embs.select(
            F.col("vec_id").alias("id"), l2sq("embedding", QVEC).alias("_d")
        )
        .orderBy(F.col("_d"), F.col("id"))
        .limit(20)
    )
    vec = with_rank(vec_top, [F.col("_d"), F.col("id")])
    fused = rrf_fuse(
        [text.select("id", "rank"), vec.select("id", "rank")], k=10
    )
    return fused.select(
        F.col("id").alias("doc_id"), "rrf", "rank_0", "rank_1"
    )


IMAGE_DHASH_MAX_HAMMING = 20  # fixture-tuned: word-soup blobs resample to
# near-uniform fingerprints, so the fixture's perceptual pairs sit far
# apart; a real image corpus uses <= 10


def _q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dups (multimodal.image_near_dups): dHash
    over the deterministic fake decode, 16-bit band candidates, full
    bit_count(xor) hamming verify — image-modality dedup with a
    bit-exact integer oracle."""
    from kaer_spark.operators.multimodal import attach_fake_media, image_near_dups

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return image_near_dups(media, max_hamming=IMAGE_DHASH_MAX_HAMMING)


def _q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet (pipelines.corpus_datasheet): docs, tokens,
    chars, DECIMAL-exact mean quality, language diversity, exact-dup
    rate — every distinct count a two-level pre-aggregate (no Expand,
    the SURVEY §6 r9 discipline)."""
    from kaer_spark.pipelines import corpus_datasheet

    return corpus_datasheet(_t(spark, sf_dir, "documents"))


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary induction (ranking.build_vocab): top-20
    tokens with per-rank cumulative coverage of all occurrences —
    oov_stats' build-side companion. Deterministic (count DESC, token)
    cut; DECIMAL cumulative sums; one double division at the end."""
    from kaer_spark.operators.ranking import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), size=20)


def _q_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage diagnostic (ranking.oov_stats): even-id docs
    measured against the odd-id corpus's distinct token vocabulary — the
    tokenizer-prep / domain-shift check; vocab DISTINCT-collapsed then
    LEFT SEMI probed, per-doc totals from the shared tokens()."""
    from kaer_spark.functions.text import tokens as _tokens
    from kaer_spark.operators.ranking import oov_stats

    docs = _t(spark, sf_dir, "documents")
    vocab = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(_tokens("text")).alias("token")
    )
    return oov_stats(docs.filter(F.col("doc_id") % 2 == 0), vocab)


def _q_subword_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WordPiece-style subword budgets (ranking.
    subword_segment_counts): greedy longest-match against the corpus
    top-20 vocabulary plus the [a-z0-9] base alphabet — per doc the word
    count, emitted subword units, and UNK characters. Segmentation runs
    once per DISTINCT word (Zipf dedup) and folds with one linear
    aggregate; the oracle walks the identical greedy rule with a
    recursive CTE."""
    from kaer_spark.operators.ranking import build_vocab, subword_segment_counts

    docs = _t(spark, sf_dir, "documents")
    top = build_vocab(docs, size=20).select("token")
    alphabet = spark.createDataFrame(
        [(c,) for c in "abcdefghijklmnopqrstuvwxyz0123456789"],
        "token string",
    )
    return subword_segment_counts(docs, top.unionByName(alphabet))


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge rules (ranking.bpe_train_merges): classic
    Sennrich-style training — most frequent adjacent symbol pair, ties
    lexicographic, greedy left-to-right fusion — as one corpus-sized
    (word, freq) aggregate plus per-round vocab-table pair counts with a
    1-row argmax collect; the fusion is a separator-encoded whole-stage
    string replace, no UDF. The oracle unrolls the same rounds as CTEs."""
    from kaer_spark.operators.ranking import bpe_merges_df

    return bpe_merges_df(_t(spark, sf_dir, "documents"), BPE_MERGES)


def _q_bpe_learned_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budgets under the LEARNED 6-merge BPE (ranking.
    bpe_token_counts): the trained state is the segmentation, so apply =
    one symbol count per distinct word + the occurrences join-back /
    per-doc aggregate; zero-token docs report (0, 0)."""
    from kaer_spark.operators.ranking import bpe_token_counts

    return bpe_token_counts(_t(spark, sf_dir, "documents"), BPE_MERGES)


def _q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between the label-parity halves (operators.pca.
    embedding_drift): mean-shift and per-side total variance, all mass
    integer-exact (quantized moment sums; one float64 division at the
    end) — the drift monitor diagnostic. Corpora never join row-wise;
    only d-sized moment rows meet."""
    from kaer_spark.operators.pca import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("label") % 2 == 0),
        emb.filter(F.col("label") % 2 == 1),
    )


def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval (similarity.mmr_rerank): exact cosine
    top-40 pool, then greedy maximal-marginal-relevance selection of 10
    (λ=0.5) so near-duplicate hits can't crowd the result list — the
    Carbonell-Goldstein re-rank production RAG serves after ANN. Greedy
    picks are fixed-association float64 with min-id ties; the oracle
    replays the whole selection as a recursive CTE, pick by pick."""
    from kaer_spark.operators.similarity import mmr_rerank

    return mmr_rerank(
        _t(spark, sf_dir, "embeddings"), QVEC, k=10, pool=40, lam=0.5
    )


def _q_fuzzy_dups_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus edit-distance decontamination
    (dedup.fuzzy_near_dups_between): even-id docs within 2 edits (on the
    normalized 32-char key) of an odd-id doc — the typo/OCR-variant
    screen exact and shingle decontamination miss. Complete blocking ⇒
    brute-force cross-product oracle."""
    from kaer_spark.operators.dedup import fuzzy_near_dups_between

    docs = _t(spark, sf_dir, "documents")
    return fuzzy_near_dups_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        max_edits=2, key_len=32,
    )


WN_CATCHUP_CUT = 250  # prefix/tail split for the winnow catch-up fixture


def _ensure_winnow_index_catchup(spark: SparkSession, sf_dir: str) -> str:
    """The MOSS member of the catch-up fixture family (minhash/signlsh/
    shingle/fuzzy precedent): BUILD the fingerprint index over the
    odd-id prefix (doc_id < WN_CATCHUP_CUT), then REFRESH with the full
    odd-id reference — dedup.refresh_winnow_index selects the tail under
    the sidecar-frozen (k, window) and appends. The oracle replays the
    whole selection + pair join over the FULL reference, so refresh ≡
    rebuild is value-checked."""
    import hashlib
    import os
    import tempfile

    from kaer_spark.operators.dedup import (
        build_winnow_index,
        read_winnow_index_meta,
        refresh_winnow_index,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    fp = _fixture_fp(src)
    tag = hashlib.md5(
        f"{fp}|wn|k=16|w=8|odd|catchup<{WN_CATCHUP_CUT}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"kaer_winnow_catchup_{tag}")
    try:
        meta = read_winnow_index_meta(path)
        if meta.get("source_fp") == fp and meta.get("caught_up"):
            return path
    except (OSError, ValueError):
        pass
    odd = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    build_winnow_index(
        odd.filter(F.col("doc_id") < WN_CATCHUP_CUT), path, k=16, window=8
    )
    meta = refresh_winnow_index(odd, path)
    meta["source_fp"] = fp
    meta["caught_up"] = True
    write_sidecar(os.path.join(path, "winnow_index.json"), meta)
    return path


def _q_winnow_index_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[r17] O8 catch-up for the at-rest winnow (MOSS fingerprint)
    artifact, proven through the value gate — the EIGHTH standing
    family, landing complete in one round per the frozen template
    (build + refresh + stats + serving): built on the odd-id prefix,
    refreshed with the full odd-id reference, then serving winnowed
    overlap for the even-id probe side. The oracle replays selection +
    pair join over the whole reference, so a refresh that missed,
    duplicated, or re-selected tail fingerprints lands as a value
    mismatch. Same geometry as winnow_between (k=16, w=8,
    min_shared=3), so the serving twin's values are directly
    comparable."""
    from kaer_spark.operators.dedup import winnow_overlap_against_index

    docs = _t(spark, sf_dir, "documents")
    path = _ensure_winnow_index_catchup(spark, sf_dir)
    return winnow_overlap_against_index(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0), min_shared=3
    )


def _q_winnow_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[r17] Health report for the at-rest winnow reference index
    (dedup.winnow_index_stats) over the catch-up fixture — the stats
    twin in the same round as its artifact: per-fingerprint posting
    histogram (hot fp = corpus-duplicated passage = skewed screen
    partition), per-doc selection spread, geometry echo, typed watermark
    + lag vs the full documents table. The oracle replays the winnow
    selection from raw text and re-derives every aggregate."""
    from kaer_spark.operators.dedup import winnow_index_stats

    path = _ensure_winnow_index_catchup(spark, sf_dir)
    return winnow_index_stats(
        spark, path, corpus=_t(spark, sf_dir, "documents"),
        corpus_id_col="doc_id",
    )


def _q_winnow_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus winnowed overlap (dedup.winnow_overlap_between):
    even-id docs sharing ≥3 selected fingerprints with an odd-id doc —
    passage_overlap_between at MOSS-winnowed density (guaranteed for
    23+-char shared passages at ~1/4 the postings)."""
    from kaer_spark.operators.dedup import winnow_overlap_between

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=16, window=8, min_shared=3,
    )


HLL_P = 12


def _q_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate (sketches.hll_distinct_tokens)
    — the replayable sketch: register state and estimator are identical
    integer/float64 arithmetic on both engines, so a SKETCH passes the
    value-hash gate (approx_count_distinct can't). This corpus's tiny
    vocabulary drives the linear-counting branch."""
    from kaer_spark.operators.sketches import hll_distinct_tokens

    return hll_distinct_tokens(_t(spark, sf_dir, "documents"), p=HLL_P)


def _q_streaming_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time distinct-token sketch maintained BY A STREAM
    (streaming.streaming_hll_ingest): each micro-batch's HLL registers
    merge (per-register max — exact) into a persisted ≤2^p-row state
    table; the query ingests the bounded document stream, then estimates
    from the state. ORACLE-CHECKED via merge ≡ whole: however the stream
    batches the corpus, the merged state IS the batch sketch of the
    union bit-for-bit, so the batch HLL replay is the exact oracle (not
    just the single-file stream ≡ batch contract)."""
    import tempfile
    import uuid

    from kaer_spark.operators.sketches import hll_estimate
    from kaer_spark.streaming.ingest import read_hll_state, streaming_hll_ingest

    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    from kaer_spark.functions.text import tokens as _tokens

    toks = stream.select(F.explode(_tokens(F.col("text"))).alias("v"))
    run = uuid.uuid4().hex[:8]
    state = f"{tempfile.gettempdir()}/kaer_stream_hll_{run}/state"
    ckpt = f"{tempfile.gettempdir()}/kaer_stream_hll_{run}/ckpt"
    q = streaming_hll_ingest(toks, "v", state, ckpt, p=HLL_P)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return hll_estimate(read_hll_state(spark, state), p=HLL_P)


def _q_hll_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL (sketches.hll_distinct_by): distinct-token estimate
    PER LANGUAGE — registers shuffle as (lang, idx) keys (bounded by
    groups x 2^p, map-side combined) instead of the full token stream a
    GROUP BY count(DISTINCT) must move."""
    from kaer_spark.functions.text import tokens as _toks
    from kaer_spark.operators.sketches import hll_distinct_by

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(_toks(F.col("text"))).alias("v")
    )
    return hll_distinct_by(docs, ["lang"], "v", p=HLL_P)


CMS_WIDTH = 1 << 12
CMS_DEPTH = 4
CMS_SEED = 2027


def _q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token frequencies (sketches.cms_build/cms_query):
    occurrence estimates for the BM25_TERMS vocabulary from a
    depth×width counter sketch — frequency estimation with NO
    token-keyed shuffle (the one exchange is (j, pos)-keyed, ≤
    depth·width cells). Estimates are exact-or-over; the oracle rebuilds
    the sketch cell-for-cell, so even a collision inflation replays."""
    from kaer_spark.functions.text import tokens as _toks
    from kaer_spark.operators.sketches import cms_build, cms_query
    from kaer_spark.operators.util import ensure_parallelism

    # repartition BEFORE the explode (the fixture is one parquet file —
    # without this the whole token-hash build runs in one task)
    toks = ensure_parallelism(_t(spark, sf_dir, "documents")).select(
        F.explode(_toks(F.col("text"))).alias("v")
    )
    cms = cms_build(toks, "v", width=CMS_WIDTH, depth=CMS_DEPTH, seed=CMS_SEED)
    return cms_query(
        spark, cms, list(BM25_TERMS),
        width=CMS_WIDTH, depth=CMS_DEPTH, seed=CMS_SEED,
    )


def _q_hll_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY through the driver gate: sketch the even-id and
    odd-id documents' tokens separately, merge the register tables
    (union + per-register max), estimate — the oracle is the GLOBAL
    sketch replay, so the driver hash-checks that merge-of-splits is
    bit-identical to sketching the whole corpus (the property that makes
    persisted per-snapshot registers accumulate without re-scans)."""
    from kaer_spark.functions.text import tokens as _toks
    from kaer_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(_toks(F.col("text"))).alias("v")
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(_toks(F.col("text"))).alias("v")
    )
    return hll_estimate(
        hll_merge(
            hll_registers(even, "v", p=HLL_P),
            hll_registers(odd, "v", p=HLL_P),
        ),
        p=HLL_P,
    )


def _q_hll_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL over lineitem.l_orderkey (decimal-string form; ~15k distinct at
    sf0.01): exercises the raw harmonic-mean branch — distinct counting
    with NO distinct shuffle, one map-side-combined groupBy over 4096
    registers instead of hash-partitioning 6M key occurrences."""
    from kaer_spark.operators.sketches import hll_distinct

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("v")
    )
    return hll_distinct(li, "v", p=HLL_P)


CDC_W = 16
CDC_DIVISOR = 64


def _q_cdc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup accounting (dedup.cdc_dedup_stats):
    Rabin-style boundaries (cut after any 16-char window whose paired-
    moduli fingerprint ≡ 0 mod 64, ≈64-char chunks), chunk fingerprints
    deduped corpus-wide — the insertion-robust dedup-by-parts number
    fixed windows can't give. Oracle replays boundary hashes AND chunk
    folds hash-for-hash."""
    from kaer_spark.operators.dedup import cdc_dedup_stats

    return cdc_dedup_stats(
        _t(spark, sf_dir, "documents"), w=CDC_W, divisor=CDC_DIVISOR
    )


def _q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (ranking.zipf_profile): least-squares
    slope + R² of ln(freq) vs ln(rank) over the top-200 tokens — the
    corpus-health curve check (natural text ≈ slope −1; spam/template
    corpora bend it). Heap top-R cut, bounded window, quantized-decimal
    sums make the ln arithmetic order-free and oracle-replayable."""
    from kaer_spark.operators.ranking import zipf_profile

    return zipf_profile(
        _t(spark, sf_dir, "documents"), top_ranks=200, quantize=(12, 6)
    )


def _q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint overlap pairs (dedup.winnow_overlap_pairs):
    MOSS winnowing (Schleimer et al. 2003) — rightmost-min of every
    8-hash window over 16-char grams (~2/9 posting density, guaranteed
    detection of any 23+-char shared passage), pairs sharing ≥5 selected
    fingerprints. The sampled operating point of the exact passage
    report; selection and pairing replayed hash-for-hash by the
    oracle."""
    from kaer_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _t(spark, sf_dir, "documents"), k=16, window=8, min_shared=5
    )


def _q_fuzzy_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (dedup.fuzzy_near_dups): pairs whose
    normalized 32-char prefix keys are within 2 Levenshtein edits,
    via complete PassJoin-style segment blocking + exact levenshtein
    verify. Blocking is COMPLETE at the declared threshold, so the oracle
    is the brute-force quadratic — the engine's banded join must equal
    exhaustive ground truth, the strongest correctness contract in the
    dedup family."""
    from kaer_spark.operators.dedup import fuzzy_near_dups

    return fuzzy_near_dups(
        _t(spark, sf_dir, "documents"), max_edits=2, key_len=32
    )


def _q_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical drift between the English and German sub-corpora
    (operators.ranking.token_divergence): KL both ways + Jensen-Shannon
    over add-0.5-smoothed unigram distributions on the union vocabulary —
    embedding_drift's token-space sibling, the corpus-shift check run
    before admitting a new source into a training mix. Quantized-decimal
    aggregation (14,6) makes the log sums order-free and
    oracle-replayable."""
    from kaer_spark.operators.ranking import token_divergence

    docs = _t(spark, sf_dir, "documents")
    return token_divergence(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "de"),
        alpha=0.5,
        quantize=(14, 6),
    )


def _q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding recall measured against exact ground truth (dedup.
    minhash_recall_report) on the deterministic 50% LCG sample — the
    eval that validates band/row settings: uncapped exact Jaccard is
    quadratic in shingle document frequency, so production measures it
    on a bounded sample; the verified-candidate subset invariant makes
    the report one aggregate, no pair join."""
    from kaer_spark.operators.dedup import minhash_recall_report

    return minhash_recall_report(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD, seed=42,
        sample_permille=MINHASH_RECALL_PERMILLE,
    )


def _q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer second moments of the embedding corpus (operators.
    pca.embedding_moments): per-batch numpy integer Gram partials over
    mapInPandas (vectors never shuffle — only d²-sized partials), folded
    by one map-side-combined (i, j) aggregate in DECIMAL(38,0). The
    quantization q = floor(x·2^20 + 0.5) is exact float64 arithmetic, so
    every engine reproduces the same integers — this is the fit input
    for pca_components/pca_whiten (SemDeDup-style preprocessing).

    The public `s` column is emitted as its exact integer TEXT (not
    DECIMAL): pandas materializes Spark DECIMAL as `Decimal` objects but
    DuckDB DECIMAL(38,0) as float64, so any stringifying hash of the two
    diverges ("123" vs "123.0") even when every value matches — the r11
    driver hash failure. A canonical string is representation-stable on
    both engines at any magnitude; the internal math stays DECIMAL."""
    from kaer_spark.operators.pca import embedding_moments

    return embedding_moments(_t(spark, sf_dir, "embeddings")).withColumn(
        "s", F.col("s").cast("string")
    )


def _q_passage_overlap_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus passage contamination report (dedup.
    passage_overlap_between) on the parity split: per even-id doc, the
    fraction of its 24-char windows found verbatim in the odd-id corpus —
    overlap_fraction's exact-substring sibling; right side collapses to
    DISTINCT fps before the LEFT SEMI probe, never broadcast."""
    from kaer_spark.operators.dedup import passage_overlap_between

    docs = _t(spark, sf_dir, "documents")
    return passage_overlap_between(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        length=24,
    )


def _q_remove_passages_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level decontamination transform (dedup.
    remove_duplicate_passages_against): even-id docs rewritten with every
    span that appears verbatim in the odd-id corpus excised — the same
    gaps-and-islands merge + substring rebuild as remove_duplicate_
    passages, flagged cross-corpus."""
    from kaer_spark.operators.dedup import remove_duplicate_passages_against

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_passages_against(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        length=24,
    )


#: session-scoped memo of the fixture's duplicate-cluster rows, keyed by
#: the documents parquet's (path, size, mtime). Clusters are a standing
#: ARTIFACT of a dedup pipeline (like the PQ code table): re-selecting
#: representatives under a new policy must not re-mine the pair graph.
#: Bounded: one row per doc that appears in a near-dup pair (hundreds at
#: these fixtures); the memo lives only in this driver-entry harness —
#: the operators stay collect-free (dedup_clusters' own 1M-edge gate).
_CLUSTER_MEMO: dict = {}


def _minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cluster input for the keep-best entries: connected components
    over the MinHash near-dup pairs (same constants as dedup_minhash /
    dedup_cluster_assign, so the oracle replays the identical closure).
    Memoized per fixture — the first call per session pays the
    signatures→banding→verify→closure chain (3-4s of which is Catalyst
    compile of the signature plan, measured r12); later calls rebuild the
    tiny (id, cluster_id) table from the memo in one Arrow batch."""
    import os

    from kaer_spark.operators.dedup import dedup_clusters, minhash_near_dups

    src = os.path.join(sf_dir, "documents.parquet")
    key = _fixture_fp(src)
    rows = _CLUSTER_MEMO.get(key)
    if rows is None:
        pairs = minhash_near_dups(
            _t(spark, sf_dir, "documents"),
            n=JACCARD_N,
            num_hashes=MINHASH_HASHES,
            bands=MINHASH_BANDS,
            threshold=JACCARD_THRESHOLD,
            seed=42,
        )
        rows = [
            (r["id"], r["cluster_id"]) for r in dedup_clusters(pairs).collect()
        ]
        _CLUSTER_MEMO[key] = rows
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "cluster_id"]).astype("int64"),
        "id long, cluster_id long",
    )


def _q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering audit (dedup.dedup_cluster_stats) over the MinHash
    components: group count, coverage, rows a dedup would delete, and the
    largest cluster (mega-cluster = boilerplate/threshold red flag) —
    exact aggregates only, DECIMAL-accumulated mean."""
    from kaer_spark.operators.dedup import dedup_cluster_stats

    return dedup_cluster_stats(_minhash_clusters(spark, sf_dir))


def _q_dedup_keep_best_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (dedup.cluster_representatives,
    score = n_chars): per duplicate cluster keep the LONGEST member, ties
    to min id — the keep-the-full-copy policy production dedups want
    instead of keep-min-id. Oracle replays the choice as a rank over
    (n_chars DESC, id)."""
    from kaer_spark.operators.dedup import cluster_representatives

    return cluster_representatives(
        _t(spark, sf_dir, "documents"),
        _minhash_clusters(spark, sf_dir),
        id_col="doc_id",
        score_col="n_chars",
    )


def _q_dedup_cluster_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-artifact BUILD cost, measured end-to-end and COLD (r12
    verdict #1): signatures → banding → exact-Jaccard verify → min-label
    closure → stats, explicitly NOT via ``_minhash_clusters``'s memo — the
    bench row that keeps the mining chain's cost visible now that
    ``dedup_keep_best``/``dedup_cluster_stats`` serve from the memoized
    cluster table. Same constants as the memo, so the oracle is the same
    recursive-CTE replay as dedup_cluster_stats."""
    from kaer_spark.operators.dedup import (
        dedup_cluster_stats,
        dedup_clusters,
        minhash_near_dups,
    )

    pairs = minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        n=JACCARD_N,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD,
        seed=42,
    )
    return dedup_cluster_stats(dedup_clusters(pairs))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus filter (dedup.dedup_keep_best): drop every
    clustered doc except its best-scoring member; unclustered docs all
    survive. Anti-join on the loser set — nothing collected."""
    from kaer_spark.operators.dedup import dedup_keep_best

    kept = dedup_keep_best(
        _t(spark, sf_dir, "documents"),
        _minhash_clusters(spark, sf_dir),
        score_col="n_chars",
        id_col="doc_id",
    )
    return kept.select("doc_id", "source", "n_chars")


PPS_K = 97


CS_TEST_PERMILLE = 200


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination report (dedup.split_leakage) for a
    DELIBERATELY row-level split (doc_id parity — the naive scheme
    cluster_split exists to replace): every MinHash near-dup pair whose
    members straddle train/test, i.e. each one an eval-memorization
    hazard. Oracle replays the banded pair generation and the parity
    labels; non-empty by construction on this corpus (near-dup pairs mix
    parities), and the same operator over cluster_holdout_split's
    assignment returns ZERO rows (pytest-pinned leak-free property)."""
    from kaer_spark.operators.dedup import minhash_near_dups, split_leakage

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dups(
        docs, n=JACCARD_N, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD, seed=42,
    ).select("id_a", "id_b")
    naive = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return split_leakage(pairs, naive)


def _q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split (dedup.cluster_holdout_split):
    each MinHash duplicate cluster lands whole on one side — the
    row-level split's eval-leakage hazard (a doc trains while its
    near-copy evaluates) is structurally impossible. Split key =
    coalesce(cluster_id, doc_id) through the engine's deterministic LCG
    bucket; the oracle replays the recursive-CTE closure + the same LCG,
    so every per-doc assignment is value-checked."""
    from kaer_spark.operators.dedup import cluster_holdout_split

    return cluster_holdout_split(
        _t(spark, sf_dir, "documents"),
        _minhash_clusters(spark, sf_dir),
        test_permille=CS_TEST_PERMILLE,
    ).select("doc_id", "split")


def _q_pps_sample_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted document sample, probability proportional to size
    (sampling.pps_systematic_sample — Madow systematic PPS): ~97 docs
    selected by char-count weight, so long documents are represented per
    CHARACTER, not per row (the bias a uniform hash_sample has when the
    unit of interest is tokens). Selection is pure DECIMAL(38,0) integer
    arithmetic on the two-phase global cumsum — no rand(), no
    transcendental sort key — so the oracle replays the exact row set
    with a window cumsum."""
    from kaer_spark.operators.sampling import pps_systematic_sample

    return pps_systematic_sample(
        _t(spark, sf_dir, "documents"), PPS_K, "n_chars"
    ).select("doc_id", "source", "n_chars")


PPS_K_PER_LANG = 13
SQ_PROBS = [0.05, 0.25, 0.5, 0.75, 0.95]
SQ_SAMPLE_K = 256
HN_K = 5
HN_CEILING = 0.9999
HN_EXCLUDE_OFFSETS = (7, 13)


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (knn.hard_negatives — the DPR/SimCSE recipe):
    per query, the 5 highest-cosine corpus vectors that are NOT
    positives — self excluded, a labeled positive-pair table anti-joined
    out, and a 0.9999 similarity ceiling dropping unlabeled near-copies,
    all BEFORE the top-k cut ("k nearest among non-positives", never an
    under-filled top-k-minus-positives). Queries = the 5 smallest-id
    vectors; the positive table is (q, q+7), (q, q+13) — a stand-in for
    a labeled-pairs table, replayed as VALUES by the oracle."""
    from kaer_spark.operators.knn import hard_negatives

    embs = _t(spark, sf_dir, "embeddings")
    queries = (
        embs.orderBy("vec_id").limit(HN_K)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embs.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + o) for q in range(HN_K) for o in HN_EXCLUDE_OFFSETS],
        "query_id long, doc_id long",
    )
    return hard_negatives(
        queries, corpus, k=HN_K, metric="cosine",
        exclude_pairs=ex, exclude_self=True, dup_ceiling=HN_CEILING,
    )


IVF_HN_K = 6
IVF_HN_OFFSETS = (5, 11)
IVF_HN_CELLS = 8
CT_K_NEG = 3
CTM_CELLS, CTM_NPROBE = 8, 3  # the PARTIAL-probe production shape


def _q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end contrastive training-pair assembly
    (knn.contrastive_triplets): embedding near-dup pairs (the calibrated
    sign-LSH family, dedup_embedding_cosine's constants) → min-label
    closure → every clustered vector anchors a triplet group — positive =
    min other cluster member, negatives = the 3 closest-by-cosine corpus
    rows that are NOT cluster-mates, mined through the IVF cell equi-join
    with ALL co-members anti-joined out BEFORE the top-k cut (a near-dup
    labeled negative poisons the contrastive loss). Full probe ⇒ exact,
    so the oracle replays the ENTIRE assembly: seeded planes, banded
    candidates, recursive closure, co-member exclusions, cosine ranking."""
    from kaer_spark.operators.dedup import (
        dedup_clusters,
        embedding_near_dups_lsh,
    )
    from kaer_spark.operators.knn import contrastive_triplets

    embs = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups_lsh(
        embs,
        threshold=COSINE_DUP_THRESHOLD,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(pairs)
    return contrastive_triplets(
        embs.select("vec_id", "embedding"), clusters,
        k_negatives=CT_K_NEG, cells=IVF_HN_CELLS, nprobe=IVF_HN_CELLS,
        metric="cosine",
    )


def _q_contrastive_triplets_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the triplet assembly: PARTIAL probe
    (nprobe=3 of 8 cells) — the form a real mining pass runs, where the
    indexed miner's whole point is NOT visiting every cell (the
    full-probe twin above is the exact form). The oracle replays the
    probe machinery itself value-exactly — spread-fit centroids
    (hash-ordered LIMIT), spherical argmax-cosine cell assignment,
    per-anchor top-nprobe cell ranks — then restricts the negative
    candidates to each anchor's probed cells before the same exclusion +
    cosine-rank chain, so there is NO full-probe escape hatch: a probe
    bug (wrong centroid order, off-by-one slice, L2-vs-angle assignment)
    surfaces as a value mismatch. Distinct geometry from
    contrastive_triplets (nprobe 3 vs 8)."""
    from kaer_spark.operators.dedup import (
        dedup_clusters,
        embedding_near_dups_lsh,
    )
    from kaer_spark.operators.knn import contrastive_triplets

    embs = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups_lsh(
        embs,
        threshold=COSINE_DUP_THRESHOLD,
        bands=COSINE_LSH_BANDS, bits_per_band=COSINE_LSH_BITS,
        seed=COSINE_LSH_SEED,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(pairs)
    return contrastive_triplets(
        embs.select("vec_id", "embedding"), clusters,
        k_negatives=CT_K_NEG, cells=CTM_CELLS, nprobe=CTM_NPROBE,
        metric="cosine",
    )


def _q_ivf_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining at TRAINING scale (knn.ivf_hard_negatives):
    candidates come from the IVF cell EQUI-join — the corpus never
    broadcasts and never crosses with the query table, so the same plan
    serves the millions-of-queries mining pass a contrastive run needs —
    with the exact miner's exclusion semantics (self, labeled pairs,
    similarity ceiling) applied before the top-k cut. Probed FULLY here
    (nprobe == cells ⇒ result ≡ the exact broadcast miner, equivalence
    pytest-pinned), so the oracle value-checks the ENTIRE pipeline: the
    cosine chain, the VALUES-replayed exclusions, and the rank window.
    Distinct geometry from hard_negatives (6 queries/k, offsets 5/11)."""
    from kaer_spark.operators.knn import ivf_hard_negatives

    embs = _t(spark, sf_dir, "embeddings")
    queries = (
        embs.orderBy("vec_id").limit(IVF_HN_K)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embs.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + o) for q in range(IVF_HN_K) for o in IVF_HN_OFFSETS],
        "query_id long, doc_id long",
    )
    return ivf_hard_negatives(
        queries, corpus, k=IVF_HN_K, cells=IVF_HN_CELLS, nprobe=IVF_HN_CELLS,
        metric="cosine", exclude_pairs=ex, exclude_self=True,
        dup_ceiling=HN_CEILING,
    )


IVFHF_K, IVFHF_OFFSETS, IVFHF_MOD = 5, (3, 9), 3


def _q_ivf_hard_negatives_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED hard-negative mining (knn.ivf_hard_negatives with
    corpus_pred — r14: mine negatives only among docs matching a metadata
    predicate, e.g. same-language / quality-gated negatives — the
    filtered-kNN contract, db/db.go:111-143, now on the mining path too):
    the predicate restricts the candidate pool BELOW the cell join
    (pushed into the scan), exclusions still apply before the top-k cut —
    "k nearest non-positive matches", never an under-filled remainder.
    Probed fully ⇒ exact, so the oracle value-checks the whole filtered
    chain. Distinct geometry from ivf_hard_negatives (5 queries, offsets
    3/9, pred vec_id % 3 != 0)."""
    from kaer_spark.operators.knn import ivf_hard_negatives

    embs = _t(spark, sf_dir, "embeddings")
    queries = (
        embs.orderBy("vec_id").limit(IVFHF_K)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embs.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + o) for q in range(IVFHF_K) for o in IVFHF_OFFSETS],
        "query_id long, doc_id long",
    )
    return ivf_hard_negatives(
        queries, corpus, k=IVFHF_K, cells=IVF_HN_CELLS, nprobe=IVF_HN_CELLS,
        metric="cosine", exclude_pairs=ex, exclude_self=True,
        dup_ceiling=HN_CEILING,
        corpus_pred=F.col("doc_id") % IVFHF_MOD != 0,
    )


def _q_quantiles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate n_chars quantiles by DETERMINISTIC uniform sampling
    (sampling.sampled_quantiles): the 256 smallest-LCG-hash docs form the
    sample, estimates are its integer-rank order statistics — the
    oracle-checkable alternative to the GK sketch behind
    corpus_profile_approx (whose sequential state can't replay in SQL;
    this one's only randomness is the hash, so DuckDB reproduces the
    identical sample and estimates)."""
    from kaer_spark.operators.sampling import sampled_quantiles

    return sampled_quantiles(
        _t(spark, sf_dir, "documents"), "n_chars", SQ_PROBS,
        sample_k=SQ_SAMPLE_K,
    )


def _q_pps_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sample (sampling.pps_systematic_sample_by): ~13
    docs PER LANGUAGE, probability proportional to char count WITHIN the
    language — the "k per stratum, weighted inside the stratum" spec
    neither a global PPS (high-volume languages crowd out the rest) nor a
    uniform quota (over-represents short docs) expresses. Group-
    partitioned window cumsum (no single-reducer hazard), same exact
    DECIMAL(38,0) selection rule as pps_sample_chars per group."""
    from kaer_spark.operators.sampling import pps_systematic_sample_by

    return pps_systematic_sample_by(
        _t(spark, sf_dir, "documents"), ["lang"], PPS_K_PER_LANG, "n_chars"
    ).select("doc_id", "lang", "n_chars")


def _q_domain_quota_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quota_per_group(order="hash"): the r6 unbiased-representative mode —
    each source keeps its 10 smallest-LCG-hash docs instead of its 10
    oldest ids (the temporal-bias fix), still fully deterministic."""
    from kaer_spark.operators.sampling import quota_per_group

    kept = quota_per_group(
        _t(spark, sf_dir, "documents"), "source", "doc_id",
        quota=QUOTA_PER_SOURCE, order="hash",
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_pack_overhead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences(overhead_tokens=2): the r6 separator-cost knob — a
    fixed per-document EOS/BOS cost rides the same sharded cumsum, so pack
    boundaries shift exactly as if every doc were 2 tokens longer while
    n_tokens still reports the document's own count."""
    from kaer_spark.operators.packing import pack_sequences, pack_stats

    return pack_stats(
        pack_sequences(
            _t(spark, sf_dir, "documents"), PACK_MAX_TOKENS,
            shards=PACK_SHARDS, overhead_tokens=2,
        )
    )


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding (operators.packing.shard_assign): docs
    dealt to 8 shards boustrophedon over the global token-count-DESC
    order — per-shard token totals spread ≤ one document. The global rank
    is two-phase (range shuffle + per-range row_number + bounded offset
    collect), never a one-reducer window."""
    from kaer_spark.operators.packing import shard_assign, shard_manifest

    return shard_manifest(
        shard_assign(_t(spark, sf_dir, "documents"), SHARD_MANIFEST_SHARDS)
    )


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join(tolerance=1h, backward): matches farther than the
    tolerance in the match direction are dropped to NULL — the staleness
    cut real price-at-time joins need."""
    from kaer_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    hour_ns = 3_600 * 1_000_000_000
    return asof_join(
        clicks, signups, on="ts", by="user_id", tolerance=hour_ns
    ).select("event_id", "user_id", "signup_event")


def _latest_driver_round() -> dict[str, int]:
    """Latest round each query received a driver correctness row, read
    from the CORRECTNESS_r*.json artifacts the driver commits next to
    this file. Queries never driver-checked map to 0. Powers the
    stalest-first window rotation in :func:`queries` — the policy used to
    be hand-maintained dict ordering, which silently froze between rounds
    (VERDICT r8: the r8 window == r7 window, leaving 22 queries' driver
    evidence stale at round 3)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declared query inventory. ORDER MATTERS: the driver's correctness
    harness checks the FIRST 50 entries per round. Rotation is now
    MECHANICAL (VERDICT r8 #2): the dict below is declared in any order,
    then reordered oldest-driver-evidence-first — never-checked queries
    lead, then ascending latest-green round from the committed
    CORRECTNESS_r*.json artifacts, declaration order breaking ties. Each
    round's results age the window forward automatically, so no query's
    driver evidence can silently stagnate. The full dict stays
    continuously covered by tools/selfcheck.py and pytest every commit."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # == new in round 9 — never driver-checked ========================
        "dedup_keep_best_reps": _q_dedup_keep_best_reps,
        "dedup_keep_best": _q_dedup_keep_best,
        "remove_duplicate_lines": _q_remove_duplicate_lines,
        "remove_repeated_lines": _q_remove_repeated_lines,
        "remove_duplicate_passages": _q_remove_duplicate_passages,
        "training_corpus_clean_stats": _q_training_corpus_clean,
        "passage_overlap_between": _q_passage_overlap_between,
        "remove_passages_against": _q_remove_passages_against,
        "semdedup": _q_semdedup,
        "oov_stats": _q_oov_stats,
        "text_index_search": _q_text_index_search,
        "hybrid_search": _q_hybrid_search,
        "hybrid_search_indexed": _q_hybrid_search_indexed,
        "phrase_search_indexed": _q_phrase_search,
        "near_search_indexed": _q_near_search,
        "dedup_cluster_stats": _q_dedup_cluster_stats,
        "dedup_cluster_build": _q_dedup_cluster_build,
        "cluster_split": _q_cluster_split,
        "split_leakage": _q_split_leakage,
        "vocab_coverage": _q_vocab_coverage,
        "subword_budget": _q_subword_budget,
        "bpe_merges": _q_bpe_merges,
        "bpe_learned_tokens": _q_bpe_learned_tokens,
        "embedding_gram": _q_embedding_gram,
        "minhash_recall": _q_minhash_recall,
        "embedding_drift": _q_embedding_drift,
        "token_divergence": _q_token_divergence,
        "fuzzy_near_dups": _q_fuzzy_near_dups,
        "winnow_overlap": _q_winnow_overlap,
        "fuzzy_dups_between": _q_fuzzy_dups_between,
        "winnow_between": _q_winnow_between,
        "cdc_stats": _q_cdc_stats,
        "hll_tokens": _q_hll_tokens,
        "hll_orderkeys": _q_hll_orderkeys,
        "hll_tokens_by_lang": _q_hll_tokens_by_lang,
        "streaming_hll_tokens": _q_streaming_hll_tokens,
        "hll_merge_parity": _q_hll_merge_parity,
        "cms_token_counts": _q_cms_token_counts,
        "zipf_profile": _q_zipf_profile,
        "mmr_rerank": _q_mmr_rerank,
        "corpus_datasheet": _q_corpus_datasheet,
        "image_near_dups": _q_image_near_dups,
        # == (1a) new in round 7 — never driver-checked ===================
        "token_budget_mix": _q_token_budget_mix,
        "temperature_mix": _q_temperature_mix,
        "bigram_lm_scores": _q_bigram_lm,
        "bigram_lm_pretrained": _q_bigram_lm_pretrained,
        "ivf_knn_join": _q_ivf_knn_join_factory("l2sq"),
        "ivf_knn_join_cosine": _q_ivf_knn_join_factory("cosine"),
        "dedup_minhash_between": _q_dedup_minhash_between,
        "dedup_against": _q_dedup_against,
        "embedding_dups_between": _q_embedding_dups_between,
        "asof_forward": _q_asof_forward,
        "asof_nearest": _q_asof_nearest,
        "training_mix_tokens": _q_training_mix_tokens,
        "dsir_scores": _q_dsir_scores,
        "perplexity_buckets": _q_perplexity_buckets,
        "domain_quota_hash": _q_domain_quota_hash,
        "pack_overhead": _q_pack_overhead,
        "shard_manifest": _q_shard_manifest,
        "asof_tolerance": _q_asof_tolerance,
        "duplicate_passages": _q_duplicate_passages,
        "streaming_dedup_against": _q_streaming_dedup_against,
        "overlap_fraction": _q_overlap_fraction,
        # r14: partial-probe production triplets + filtered IVF serving
        # + at-rest shingle-index serving
        "contrastive_triplets_mine": _q_contrastive_triplets_mine,
        "ivf_knn_join_filtered": _q_ivf_knn_join_filtered,
        "dedup_ngram_jaccard_indexed": _q_dedup_jaccard_indexed,
        "ngram_containment_indexed": _q_ngram_containment_indexed,
        "ivf_hard_negatives_filtered": _q_ivf_hard_negatives_filtered,
        "dedup_against_indexed": _q_dedup_against_indexed,
        "minhash_index_catchup": _q_minhash_index_catchup,
        "shingle_index_catchup": _q_shingle_index_catchup,
        "streaming_neardup_ingest": _q_streaming_neardup_ingest,
        "streaming_embedding_ingest": _q_streaming_embedding_ingest,
        "ivf_index_stats": _q_ivf_index_stats,
        "pq_index_stats": _q_pq_index_stats,
        "shingle_index_stats": _q_shingle_index_stats,
        "text_index_stats": _q_text_index_stats,
        "signlsh_index_catchup": _q_signlsh_index_catchup,
        "embedding_dups_against_indexed": _q_embedding_dups_against_indexed,
        # r16: health reports for the two decontamination-serving band
        # indexes (r15 verdict #2) — the observability sweep is complete
        "minhash_index_stats": _q_minhash_index_stats,
        "signlsh_index_stats": _q_signlsh_index_stats,
        # r16: the last recurring-decontamination family's standing
        # artifact (r15 verdict #5), proven through the value gate,
        # plus its stats twin (observability sweep stays closed)
        "fuzzy_index_catchup": _q_fuzzy_index_catchup,
        "fuzzy_index_stats": _q_fuzzy_index_stats,
        # r17: deterministic cross-corpus Jaccard screen (the exact twin
        # of dedup_minhash_between) + its at-rest serving path — the
        # collection API now owns shingle/fuzzy artifacts too (r16
        # verdict missing #2), and these gate the operator layer
        "jaccard_between": _q_jaccard_between,
        "jaccard_against_indexed": _q_jaccard_against_indexed,
        "containment_between": _q_containment_between,
        "containment_against_indexed": _q_containment_against_indexed,
        # r17: the EIGHTH at-rest family (winnow/MOSS), landing complete
        # per the frozen template — catch-up value gate + stats twin in
        # the same round as the artifact
        "winnow_index_catchup": _q_winnow_index_catchup,
        "winnow_index_stats": _q_winnow_index_stats,
        # == (1b) declared r4/r5, never driver-checked (the 15) ===========
        "ivf_knn_det": _q_ivf_knn_det,
        "lsh_knn_det": _q_lsh_knn_det,
        "pq_knn_det": _q_pq_knn_det,
        "pq_knn_refined": _q_pq_knn_refined,
        "pq_knn_filtered": _q_pq_knn_filtered,
        "pq_knn_join": _q_pq_knn_join,
        "ivf_pq_knn": _q_ivf_pq_knn,
        "pq_index_catchup": _q_pq_index_catchup,
        "streaming_sessionize": _q_streaming_sessionize,
        "streaming_dedup": _q_streaming_dedup,
        "bm25_scores": _q_bm25_scores,
        "hash_sample": _q_hash_sample,
        "domain_quota": _q_domain_quota,
        "weighted_mix": _q_weighted_mix,
        "pack_sequences": _q_pack_sequences,
        "cohort_retention": _q_cohort_retention,
        "histogram_chars": _q_histogram_chars,
        "training_mix_packed": _q_training_mix_packed,
        "top_quality_docs": _q_top_quality,
        "sliding_7d": _q_sliding_7d,
        # == (2) stalest driver rows — latest green is round 3 ============
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "ngram_containment": _q_ngram_containment,
        "dedup_embedding_cosine": _q_dedup_embedding,
        "simhash": _q_simhash,
        "sq_knn": _q_sq_knn,
        "dense_ids": _q_dense_ids,
        "quality_filter": _q_quality_filter,
        "events_hourly": _q_events_hourly,
        "events_json": _q_events_json,
        "streaming_events_hourly": _q_streaming_hourly,
        "funnel_steps": _q_funnel_steps,
        "revenue_by_nation": _q_revenue_by_nation,
        "top_customers": _q_top_customers,
        "training_corpus_stats": _q_training_corpus,
        "tpch_q5": _q_tpch_q5,
        "tpch_q7": _q_tpch_q7,
        "tpch_q8": _q_tpch_q8,
        "tpch_q14": _q_tpch_q14,
        "tpch_q15": _q_tpch_q15,
        "tpch_q17": _q_tpch_q17,
        "tpch_q18": _q_tpch_q18,
        "tpch_q19": _q_tpch_q19,
        "tpch_q22": _q_tpch_q22,
        # ==== 50-row window boundary ====================================
        # == (3) beyond the window: r3 leftovers + everything green in
        #    round 6 (CORRECTNESS_r06.json) — selfcheck/pytest-covered ====
        "bpe_token_count": _q_bpe_tokens,
        # rows-only by declared contract (MLlib/k-means family)
        "ivf_knn": _q_ivf_knn,
        "lsh_knn": _q_lsh_knn,
        "pq_knn": _q_pq_knn,
        "lsh_similarity_join": _q_lsh_simjoin,
        "ivf_recall_sweep": _q_ivf_recall_sweep,
    }
    for name, filt in FILTER_CASES.items():
        out[name] = _q_filter(filt)
    for name, filt in SCHEMALESS_CASES.items():
        out[name] = _q_schemaless(filt)
    out.update(
        {
            "anti_join_empty_orders": _q_anti_join,
            "asof_signup": _q_asof_signup,
            "contamination_report": _q_contamination_report,
            "bloom_decontam": _q_bloom_decontam,
            "ngram_novelty": _q_ngram_novelty,
            "pmi_bigrams": _q_pmi_bigrams,
            "exemplars_by_lang": _q_exemplars_by_lang,
            "pps_sample_chars": _q_pps_sample_chars,
            "pps_sample_by_lang": _q_pps_sample_by_lang,
            "quantiles_sampled": _q_quantiles_sampled,
            "hard_negatives": _q_hard_negatives,
            "ivf_hard_negatives": _q_ivf_hard_negatives,
            "contrastive_triplets": _q_contrastive_triplets,
            "event_coverage": _q_event_coverage,
            "corpus_profile": _q_corpus_profile,
            "cube_agg": _q_cube_agg,
            "dedup_cluster_assign": _q_dedup_cluster_assign,
            "dedup_exact": _q_dedup_exact,
            "dedup_minhash": _q_dedup_minhash,
            "distinct_agg": _q_distinct_agg,
            "doc_chunks": _q_doc_chunks,
            "doc_fingerprint": _q_fingerprint,
            "events_sessionize": _q_events_sessionize,
            "knn_cosine": _q_knn_cosine,
            "knn_dot": _q_knn_dot,
            "knn_empty_filter": _q_knn({"n_chars": {"$gt": 10**9}}, 5),
            "knn_filtered_and": _q_knn(KNN_FILTER_AND, 5),
            "knn_filtered_eq": _q_knn(KNN_FILTER_EQ, 5),
            "knn_join": _q_knn_join,
            "knn_topk": _q_knn(None, 10),
            "lang_id_counts": _q_lang_id_counts,
            "max_id": _q_max_id,
            "media_frame_offsets": _q_frame_offsets,
            "media_resize": _q_media_resize,
            "multimodal_features": _q_multimodal_features,
            "pii_redaction": _q_pii_redaction,
            "pivot_agg": _q_pivot_agg,
            "range_join_clicks": _q_range_join,
            "repetition_profile": _q_repetition_profile,
            "rollup_agg": _q_rollup_agg,
            "semi_join_returned": _q_semi_join,
            "set_ops": _q_set_ops,
            "stratified_split": _q_stratified_split,
            "text_stats": _q_text_stats,
            "time_bucket_rollup": _q_time_bucket_rollup,
            "top_tokens": _q_top_tokens,
            "tpch_q1": _q_tpch_q1,
            "tpch_q2": _q_tpch_q2,
            "tpch_q3": _q_tpch_q3,
            "tpch_q4": _q_tpch_q4,
            "tpch_q6": _q_tpch_q6,
            "tpch_q9": _q_tpch_q9,
            "tpch_q10": _q_tpch_q10,
            "tpch_q11": _q_tpch_q11,
            "tpch_q12": _q_tpch_q12,
            "tpch_q13": _q_tpch_q13,
            "tpch_q16": _q_tpch_q16,
            "tpch_q20": _q_tpch_q20,
            "tpch_q21": _q_tpch_q21,
            "window_running": _q_window_running,
        }
    )
    # stalest-first rotation: never-checked queries (latest 0) lead, then
    # ascending latest-driver-green round; declaration order breaks ties
    latest = _latest_driver_round()
    declared = {name: i for i, name in enumerate(out)}
    ordered = sorted(out, key=lambda n: (latest.get(n, 0), declared[n]))
    return {name: out[name] for name in ordered}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (identical arithmetic, generated from the same constants)
# ---------------------------------------------------------------------------
def _sql_l2sq_lit(vec: str, q: list[float]) -> str:
    """64-term squared-L2 between a list<float> column and a literal vector,
    in float64 — written as explicit (x-c)*(x-c) products (no pow(), whose
    libm rounding isn't pinned)."""
    return " + ".join(
        f"(CAST({vec}[{i + 1}] AS DOUBLE) - ({v!r})) * (CAST({vec}[{i + 1}] AS DOUBLE) - ({v!r}))"
        for i, v in enumerate(q)
    )


def _sql_sq_knn(dim: int = 64, k: int = 10) -> str:
    """Replays the whole SQ path (operators.similarity.sq_fit/sq_encode/
    sq_topk) bit-for-bit: exact per-dim min/max CTE, int8 codes through the
    identical ``(v-min)·(255/(max-min))`` op tree (round() operands are
    non-negative, so half-up and half-away agree), then the same
    left-associated decoded-L2 sum with explicit products (no pow)."""
    mm = ", ".join(
        f"min(CAST(embedding[{i}] AS DOUBLE)) AS m{i}, "
        f"max(CAST(embedding[{i}] AS DOUBLE)) AS x{i}"
        for i in range(1, dim + 1)
    )
    codes = ", ".join(
        f"LEAST(255, GREATEST(0, CAST(round((CAST(embedding[{i}] AS DOUBLE)"
        f" - b.m{i}) * (255.0 / (b.x{i} - b.m{i}))) AS INTEGER))) AS c{i}"
        for i in range(1, dim + 1)
    )
    term = (
        "((({q}) - b.m{i}) - CAST(e.c{i} AS DOUBLE) * ((b.x{i} - b.m{i}) / 255.0))"
    )
    terms = " + ".join(
        term.format(q=repr(QVEC[i - 1]), i=i)
        + " * "
        + term.format(q=repr(QVEC[i - 1]), i=i)
        for i in range(1, dim + 1)
    )
    return f"""
        WITH b AS (SELECT {mm} FROM embeddings),
        enc AS (SELECT vec_id, {codes} FROM embeddings, b)
        SELECT e.vec_id, {terms} AS _score
        FROM enc e, b
        ORDER BY _score ASC, vec_id ASC
        LIMIT {k}
    """


def _sql_l2sq_cols(a: str, b: str) -> str:
    # dim from the query literal, not a pinned 64 (see _sql_embedding_dups)
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, len(QVEC) + 1)
    )


def _sql_dot_cols(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, len(QVEC) + 1)
    )


def _sql_dot_lit(vec: str, q: list[float]) -> str:
    """Inner product against a literal vector — the left-assoc sum
    functions.vector.dot produces (identical IEEE op tree)."""
    return "(" + " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * ({v!r})" for i, v in enumerate(q)
    ) + ")"


def _sql_cosine_lit(vec: str, q: list[float]) -> str:
    """Cosine similarity against a literal vector — replays
    functions.vector.cosine_similarity's exact IEEE op tree: left-assoc dot,
    sqrt(self-dot) norm, the query norm folded to one Python float64."""
    qnorm = sum(float(x) * float(x) for x in q) ** 0.5
    dot_lit = " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * ({v!r})" for i, v in enumerate(q)
    )
    denom = f"(sqrt({_sql_dot_cols(vec, vec)}) * ({qnorm!r}))"
    return f"(CASE WHEN {denom} <> 0.0 THEN ({dot_lit}) / {denom} END)"


def _sql_knn(filt, k) -> str:
    return f"""
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE {filter_to_sql(filt)}
        ORDER BY {_sql_l2sq_lit('e.embedding', QVEC)}, d.doc_id
        LIMIT {k}
    """


def _sql_filter(filt) -> str:
    return f"SELECT doc_id, lang, source FROM documents WHERE {filter_to_sql(filt)}"


#: polynomial char hash of a string expression (matches functions.text)
def _sql_schemaless(filt) -> str:
    """Oracle twin of _q_schemaless: the SAME ragged JSON text constructed
    in SQL, filtered through filters_json.filter_json_to_sql (the DuckDB
    json_type/json_extract rendering of the variant semantics)."""
    from kaer_spark.filters_json import filter_json_to_sql

    return f"""
        WITH m AS (
          SELECT doc_id,
                 '{{"lang":"' || lang || '","n":' || CAST(n_chars AS VARCHAR)
                 || CASE WHEN doc_id % 3 = 0
                         THEN ',"src":"' || source || '"' ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN ',"flag":null'
                         WHEN doc_id % 5 = 1 THEN ',"flag":true'
                         ELSE '' END
                 || '}}' AS _m_meta
          FROM documents
        )
        SELECT doc_id,
               json_extract_string(_m_meta, '$.src') AS src,
               TRY_CAST(json_extract_string(_m_meta, '$.n') AS BIGINT) AS n
        FROM m
        WHERE {filter_json_to_sql(filt)}
    """


def _sql_poly_hash(expr: str) -> str:
    # DuckDB's list_reduce raises on an empty list, so empty text is guarded
    # to the fold's init value 0 — matching the Spark aggregate's result.
    return (
        f"(CASE WHEN length({expr}) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT)), "
        f"(a, x) -> (a * {PB} + x) % {PM}) END)"
    )


def _sql_simhash() -> str:
    tok_hashes = (
        "list_transform("
        "  CASE WHEN trim(text) = '' THEN [] "
        "       ELSE regexp_split_to_array(trim(text), '\\s+') END, "
        f" t -> {_sql_poly_hash('t')})"
    )
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH th AS (SELECT doc_id AS id, {tok_hashes} AS th FROM documents)
        SELECT id, ({bit_terms}) AS simhash FROM th
    """


def _sql_jaccard_pairs(
    max_df: int | None = JACCARD_MAX_DF,
    extra_where: str = "",
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    cap = (
        f"""
        keep AS (SELECT g FROM inv0 GROUP BY g HAVING count(*) <= {max_df}),
        inv AS (SELECT id, g FROM inv0 JOIN keep USING (g)),"""
        if max_df is not None
        else """
        inv AS (SELECT id, g FROM inv0),"""
    )
    n = JACCARD_N
    return f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n} {extra_where}
        ),
        inv0 AS (SELECT id, unnest(shingles) AS g FROM sh),{cap}
        sizes AS (SELECT id, count(*) AS sz FROM inv GROUP BY id),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM inv a JOIN inv b USING (g)
          WHERE a.id < b.id GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b,
               CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
        FROM pairs p
        JOIN sizes sa ON sa.id = p.id_a
        JOIN sizes sb ON sb.id = p.id_b
        WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= {threshold!r}
    """


def _sql_jaccard_between(
    max_df: int | None = JACCARD_MAX_DF,
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    """[r17] Cross-corpus twin of _sql_jaccard_pairs: even-id probe vs
    odd-id reference, the doc-freq cap computed on the REFERENCE side
    only (hot shingles anti-joined out of BOTH sides, sizes over kept
    shingles) — exactly dedup.ngram_jaccard_between's arithmetic, and
    therefore also the indexed serving path's."""
    n = JACCARD_N
    shingle = (
        f"list_distinct(list_transform(range(1, length(text) - {n - 2}),"
        f" i -> substr(text, i, {n})))"
    )
    cap = (
        f"""
        hot AS (SELECT g FROM rinv0 GROUP BY g HAVING count(*) > {max_df}),
        linv AS (SELECT id, g FROM linv0 ANTI JOIN hot USING (g)),
        rinv AS (SELECT id, g FROM rinv0 ANTI JOIN hot USING (g)),"""
        if max_df is not None
        else """
        linv AS (SELECT id, g FROM linv0),
        rinv AS (SELECT id, g FROM rinv0),"""
    )
    return f"""
        WITH lsh AS (
          SELECT doc_id AS id, {shingle} AS shingles
          FROM documents
          WHERE length(text) >= {n} AND doc_id % 2 = 0
        ),
        rsh AS (
          SELECT doc_id AS id, {shingle} AS shingles
          FROM documents
          WHERE length(text) >= {n} AND doc_id % 2 = 1
        ),
        linv0 AS (SELECT id, unnest(shingles) AS g FROM lsh),
        rinv0 AS (SELECT id, unnest(shingles) AS g FROM rsh),{cap}
        lsz AS (SELECT id, count(*) AS sz FROM linv GROUP BY id),
        rsz AS (SELECT id, count(*) AS sz FROM rinv GROUP BY id),
        pairs AS (
          SELECT a.id AS left_id, b.id AS right_id, count(*) AS inter
          FROM linv a JOIN rinv b USING (g) GROUP BY 1, 2
        )
        SELECT p.left_id, p.right_id,
               CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
        FROM pairs p
        JOIN lsz sa ON sa.id = p.left_id
        JOIN rsz sb ON sb.id = p.right_id
        WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter)
              >= {threshold!r}
    """


def _sql_containment_between(
    max_df: int | None = JACCARD_MAX_DF,
    threshold: float = CONTAIN_BETWEEN_THRESHOLD,
) -> str:
    """[r17] Containment twin of _sql_jaccard_between: identical
    split/cap/pair CTEs, the projection scores Broder containment both
    ways and filters on the greater direction."""
    n = JACCARD_N
    shingle = (
        f"list_distinct(list_transform(range(1, length(text) - {n - 2}),"
        f" i -> substr(text, i, {n})))"
    )
    cap = (
        f"""
        hot AS (SELECT g FROM rinv0 GROUP BY g HAVING count(*) > {max_df}),
        linv AS (SELECT id, g FROM linv0 ANTI JOIN hot USING (g)),
        rinv AS (SELECT id, g FROM rinv0 ANTI JOIN hot USING (g)),"""
        if max_df is not None
        else """
        linv AS (SELECT id, g FROM linv0),
        rinv AS (SELECT id, g FROM rinv0),"""
    )
    return f"""
        WITH lsh AS (
          SELECT doc_id AS id, {shingle} AS shingles
          FROM documents
          WHERE length(text) >= {n} AND doc_id % 2 = 0
        ),
        rsh AS (
          SELECT doc_id AS id, {shingle} AS shingles
          FROM documents
          WHERE length(text) >= {n} AND doc_id % 2 = 1
        ),
        linv0 AS (SELECT id, unnest(shingles) AS g FROM lsh),
        rinv0 AS (SELECT id, unnest(shingles) AS g FROM rsh),{cap}
        lsz AS (SELECT id, count(*) AS sz FROM linv GROUP BY id),
        rsz AS (SELECT id, count(*) AS sz FROM rinv GROUP BY id),
        pairs AS (
          SELECT a.id AS left_id, b.id AS right_id, count(*) AS inter
          FROM linv a JOIN rinv b USING (g) GROUP BY 1, 2
        )
        SELECT p.left_id, p.right_id,
               CAST(p.inter AS DOUBLE) / sa.sz AS containment_l_in_r,
               CAST(p.inter AS DOUBLE) / sb.sz AS containment_r_in_l
        FROM pairs p
        JOIN lsz sa ON sa.id = p.left_id
        JOIN rsz sb ON sb.id = p.right_id
        WHERE greatest(CAST(p.inter AS DOUBLE) / sa.sz,
                       CAST(p.inter AS DOUBLE) / sb.sz) >= {threshold!r}
    """


def _sql_containment_pairs(
    threshold: float, max_df: int | None = JACCARD_MAX_DF
) -> str:
    """Containment twin of _sql_jaccard_pairs: identical shingle/cap/pair
    CTEs, the final projection scores Broder containment both ways and
    filters on the greater direction."""
    cap = (
        f"""
        keep AS (SELECT g FROM inv0 GROUP BY g HAVING count(*) <= {max_df}),
        inv AS (SELECT id, g FROM inv0 JOIN keep USING (g)),"""
        if max_df is not None
        else """
        inv AS (SELECT id, g FROM inv0),"""
    )
    n = JACCARD_N
    return f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n}
        ),
        inv0 AS (SELECT id, unnest(shingles) AS g FROM sh),{cap}
        sizes AS (SELECT id, count(*) AS sz FROM inv GROUP BY id),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM inv a JOIN inv b USING (g)
          WHERE a.id < b.id GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b,
               CAST(p.inter AS DOUBLE) / sa.sz AS containment_a_in_b,
               CAST(p.inter AS DOUBLE) / sb.sz AS containment_b_in_a
        FROM pairs p
        JOIN sizes sa ON sa.id = p.id_a
        JOIN sizes sb ON sb.id = p.id_b
        WHERE greatest(CAST(p.inter AS DOUBLE) / sa.sz,
                       CAST(p.inter AS DOUBLE) / sb.sz) >= {threshold!r}
    """


def _sql_signlsh_band_key(vec: str, band_planes: list[list[float]]) -> str:
    """One sign-LSH band key as SQL: the same ±1-plane dots (left-assoc
    float64, so each sign bit replays Spark's fold bit-for-bit) packed into
    the bucket integer. Shared by the dedup and top-k oracle builders."""

    def dot_plane(plane: list[float]) -> str:
        return " + ".join(
            f"CAST({vec}[{i + 1}] AS DOUBLE) * ({c!r})" for i, c in enumerate(plane)
        )

    bits = [
        f"(CASE WHEN ({dot_plane(p)}) >= 0.0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(band_planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _sql_lsh_knn_det() -> str:
    """Replay of similarity.signlsh_topk: same seeded planes, same band
    keys, same literal query keys (computed once, shared by both plans)."""
    from kaer_spark.operators.dedup import signlsh_planes
    from kaer_spark.operators.similarity import signlsh_query_keys

    # dim from the query literal, exactly like the library's
    # signlsh_topk(len(query_vector)) — a fixture-dim drift then breaks
    # BOTH sides loudly instead of silently splitting them
    planes = signlsh_planes(
        len(QVEC), COSINE_LSH_BANDS * COSINE_LSH_BITS, COSINE_LSH_SEED
    )
    qkeys = signlsh_query_keys(QVEC, planes, COSINE_LSH_BANDS, COSINE_LSH_BITS)
    conds = " OR ".join(
        f"({_sql_signlsh_band_key('embedding', planes[b * COSINE_LSH_BITS:(b + 1) * COSINE_LSH_BITS])} = {qkeys[b]})"
        for b in range(COSINE_LSH_BANDS)
    )
    return f"""
        SELECT vec_id, {_sql_cosine_lit('embedding', QVEC)} AS cosine
        FROM embeddings
        WHERE {conds}
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """


def _sql_pq_knn_det(limit: int = 10, where: str | None = None) -> str:
    """Replay of similarity.pq_topk_deterministic: codebooks re-derived
    relationally (slices of vec_id<16 rows), encode = per-subspace
    (dist, cid) rank, ADC = per-subspace literal-query slice distances,
    summed in the SAME fixed association order as Spark's fold (eight
    joins + explicit parens, NOT a float SUM() whose order would drift).
    Subspace width derives from the query literal (len(QVEC) / m), like
    the engine's dim // m. ``limit`` sizes the ADC cut — 10 for the
    direct top-k query, ``shortlist`` when reused as the refined path's
    stage-1 subquery. ``where`` (over ``enc.vec_id``) replays the
    filtered contract: matches are restricted BEFORE the ADC cut, exactly
    like pq_index_topk's semi-join of the code table against the
    predicate's ids."""
    m, k = 8, 16
    d = len(QVEC) // m

    def slice_dist(a: str, b: str, s: int) -> str:
        # (x-c)^2 left-assoc over subspace s's 8 dims, both array columns
        return " + ".join(
            f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            for i in range(s * d + 1, s * d + d + 1)
        )

    def slice_dist_lit(vec: str, s: int) -> str:
        return " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) - ({QVEC[i]!r}))"
            f" * (CAST({vec}[{i + 1}] AS DOUBLE) - ({QVEC[i]!r}))"
            for i in range(s * d, s * d + d)
        )

    cd = "\n          UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s, {slice_dist('e.embedding', 'c.cvec', s)} AS dist"
        f" FROM embeddings e CROSS JOIN cb c"
        for s in range(m)
    )
    adc = "\n          UNION ALL ".join(
        f"SELECT cid, {s} AS s, {slice_dist_lit('cvec', s)} AS dist FROM cb"
        for s in range(m)
    )
    enc_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN cid END) AS c{s}" for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN adc a{s} ON a{s}.s = {s} AND a{s}.cid = enc.c{s}" for s in range(m)
    )
    score = "a0.dist"
    for s in range(1, m):
        score = f"({score} + a{s}.dist)"
    return f"""
        WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                           embedding AS cvec
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT {k})),
        cd AS (
          {cd}
        ),
        r AS (
          SELECT vec_id, s, cid,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
          FROM cd
        ),
        enc AS (SELECT vec_id, {enc_cols} FROM r WHERE rn = 1 GROUP BY vec_id),
        adc AS (
          {adc}
        )
        SELECT enc.vec_id, {score} AS adc_l2sq
        FROM enc
            {joins}
        {f"WHERE {where}" if where else ""}
        ORDER BY adc_l2sq ASC, enc.vec_id ASC
        LIMIT {limit}
    """


def _sql_pq_knn_join(nq: int = 4, shortlist: int = 30, topk: int = 8) -> str:
    """Replay of index_store.pq_index_knn_join over the det-fit code
    table: the encode CTEs are _sql_pq_knn_det's (query-independent);
    per-QUERY ADC tables come from the same slice-distance chain with the
    query VECTOR joined relationally instead of inlined as literals (the
    engine computes them in-plan per query row); stage-1 shortlist is a
    per-qid rank window, stage-2 the exact column-column l2sq re-rank.
    Every stage orders by (score, id) within the query — value-identical,
    not just rank-identical."""
    m, k = 8, 16
    d = len(QVEC) // m

    def slice_dist(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            for i in range(s * d + 1, s * d + d + 1)
        )

    cd = "\n          UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s, {slice_dist('e.embedding', 'c.cvec', s)} AS dist"
        f" FROM embeddings e CROSS JOIN cb c"
        for s in range(m)
    )
    qadc = "\n          UNION ALL ".join(
        f"SELECT q.qid, c.cid, {s} AS s, {slice_dist('q.qv', 'c.cvec', s)} AS dist"
        f" FROM q CROSS JOIN cb c"
        for s in range(m)
    )
    enc_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN cid END) AS c{s}" for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN qadc a{s} ON a{s}.qid = q.qid AND a{s}.s = {s}"
        f" AND a{s}.cid = enc.c{s}"
        for s in range(m)
    )
    score = "a0.dist"
    for s in range(1, m):
        score = f"({score} + a{s}.dist)"
    return f"""
        WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                           embedding AS cvec
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT {k})),
        cd AS (
          {cd}
        ),
        r AS (
          SELECT vec_id, s, cid,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
          FROM cd
        ),
        enc AS (SELECT vec_id, {enc_cols} FROM r WHERE rn = 1 GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, embedding AS qv
              FROM embeddings ORDER BY vec_id LIMIT {nq}),
        qadc AS (
          {qadc}
        ),
        scored AS (
          SELECT q.qid, enc.vec_id, {score} AS adc
          FROM q CROSS JOIN enc
            {joins}
        ),
        sh AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (
                     PARTITION BY qid ORDER BY adc ASC, vec_id ASC
                   ) AS rk
            FROM scored) WHERE rk <= {shortlist}
        ),
        re AS (
          SELECT s.qid AS query_id, s.vec_id,
                 {_sql_l2sq_cols('e.embedding', 'q.qv')} AS _score
          FROM sh s
          JOIN embeddings e ON e.vec_id = s.vec_id
          JOIN q ON q.qid = s.qid
        )
        SELECT query_id, vec_id, _score, CAST(rk AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY _score ASC, vec_id ASC) AS rk
              FROM re)
        WHERE rk <= {topk}
    """


def _sql_ivf_pq_topk(
    cells: int = 8,
    nprobe: int = 3,
    shortlist: int = 50,
    topk: int = 10,
    m: int = 8,
    k: int = 16,
) -> str:
    """Replay of similarity.ivf_pq_topk at PARTIAL probe: coarse
    centroids + argmin assignment + probe rank (the ivf_knn_det CTEs),
    PQ encode/ADC restricted to the probed rows (the pq_knn_det CTEs
    re-sourced), ADC shortlist, exact re-rank — every stage value-exact,
    no full-probe escape hatch."""
    d = len(QVEC) // m

    def slice_dist(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            for i in range(s * d + 1, s * d + d + 1)
        )

    def slice_dist_lit(vec: str, s: int) -> str:
        return " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) - ({QVEC[i]!r}))"
            f" * (CAST({vec}[{i + 1}] AS DOUBLE) - ({QVEC[i]!r}))"
            for i in range(s * d, s * d + d)
        )

    cd = "\n          UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s,"
        f" {slice_dist('e.embedding', 'c.cvec', s)} AS dist"
        f" FROM probed e CROSS JOIN cb c"
        for s in range(m)
    )
    adc = "\n          UNION ALL ".join(
        f"SELECT cid, {s} AS s, {slice_dist_lit('cvec', s)} AS dist FROM cb"
        for s in range(m)
    )
    enc_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN cid END) AS c{s}" for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN adc a{s} ON a{s}.s = {s} AND a{s}.cid = enc.c{s}"
        for s in range(m)
    )
    score = "a0.dist"
    for s in range(1, m):
        score = f"({score} + a{s}.dist)"
    return f"""
        WITH co AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                           embedding AS cvec
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT {cells})),
        celld AS (
          SELECT e.vec_id, co.j,
                 {_sql_l2sq_cols('e.embedding', 'co.cvec')} AS dist
          FROM embeddings e CROSS JOIN co
        ),
        ar AS (
          SELECT vec_id, j,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
          FROM celld
        ),
        assigned AS (SELECT vec_id, j AS cell FROM ar WHERE rn = 1),
        pr AS (
          SELECT j, row_number() OVER (
            ORDER BY {_sql_l2sq_lit('cvec', QVEC)}, j) AS pr
          FROM co
        ),
        probed AS (
          SELECT e.vec_id, e.embedding
          FROM embeddings e
          JOIN assigned ON assigned.vec_id = e.vec_id
          JOIN pr ON pr.j = assigned.cell
          WHERE pr.pr <= {nprobe}
        ),
        cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                      embedding AS cvec
               FROM (SELECT vec_id, embedding FROM embeddings
                     ORDER BY vec_id LIMIT {k})),
        cd AS (
          {cd}
        ),
        r AS (
          SELECT vec_id, s, cid,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
          FROM cd
        ),
        enc AS (SELECT vec_id, {enc_cols} FROM r WHERE rn = 1 GROUP BY vec_id),
        adc AS (
          {adc}
        ),
        short AS (
          SELECT enc.vec_id, {score} AS adc_l2sq
          FROM enc
            {joins}
          ORDER BY adc_l2sq ASC, enc.vec_id ASC
          LIMIT {shortlist}
        )
        SELECT s.vec_id, {_sql_l2sq_lit('e.embedding', QVEC)} AS l2sq
        FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
        ORDER BY l2sq ASC, s.vec_id ASC
        LIMIT {topk}
    """


def _sql_pq_knn_refined(
    shortlist: int = 50, topk: int = 10, where: str | None = None
) -> str:
    """Replay of similarity.pq_topk_refined: stage 1 is the det-PQ ADC
    replay above cut at ``shortlist``, stage 2 joins the survivors back to
    their raw vectors and re-ranks by the EXACT literal-query l2sq (the
    same explicit left-assoc product chain as every exact-distance
    oracle). Both stages order by (score, id), so the replay is
    value-identical, not just rank-identical. ``where`` replays the
    filtered contract inside stage 1 (pre-shortlist, per the semi-join
    semantics); stage 2's survivors then match by construction."""
    return f"""
        SELECT s.vec_id, {_sql_l2sq_lit('e.embedding', QVEC)} AS l2sq
        FROM ({_sql_pq_knn_det(limit=shortlist, where=where)}) s
        JOIN embeddings e ON e.vec_id = s.vec_id
        ORDER BY l2sq ASC, s.vec_id ASC
        LIMIT {topk}
    """


def _sql_embedding_dups() -> str:
    # Replay of dedup.embedding_near_dups_lsh: the same seeded Rademacher
    # planes as SQL literals, the same band keys, the same OR-of-ANDs
    # candidate union + exact-cosine verify.
    from kaer_spark.operators.dedup import signlsh_planes

    # dim from the query literal (len(QVEC)), never a pinned 64: the engine
    # side derives dim from the data, so a fixture-dim drift must break
    # BOTH sides loudly instead of silently splitting them (the round-4
    # events-timestamp failure mode; same rule as _sql_lsh_knn_det)
    planes = signlsh_planes(
        len(QVEC), COSINE_LSH_BANDS * COSINE_LSH_BITS, COSINE_LSH_SEED
    )

    def band_key(vec: str, band: int) -> str:
        return _sql_signlsh_band_key(
            vec, planes[band * COSINE_LSH_BITS : (band + 1) * COSINE_LSH_BITS]
        )

    inv = "\n          UNION ALL ".join(
        f"SELECT vec_id AS id, {b} AS band, {band_key('embedding', b)} AS key FROM e"
        for b in range(COSINE_LSH_BANDS)
    )
    dot = _sql_dot_cols("ea.embedding", "eb.embedding")
    nrm = f"sqrt({_sql_dot_cols('embedding', 'embedding')})"
    # zero-norm guard mirrors the Spark side's NULL-safe cosine (a NULL
    # never passes the >= filter); without it DuckDB yields NaN, which
    # DuckDB orders above every number and so WOULD pass the threshold
    cos = f"(CASE WHEN ea.nrm * eb.nrm <> 0.0 THEN ({dot}) / (ea.nrm * eb.nrm) END)"
    return f"""
        WITH e AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings),
        inv AS (
          {inv}
        ),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM inv a JOIN inv b ON a.band = b.band AND a.key = b.key AND a.id < b.id
        )
        SELECT c.id_a, c.id_b, {cos} AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        WHERE {cos} >= {COSINE_DUP_THRESHOLD!r}
    """


def _sql_quality_parts() -> tuple[str, str, str]:
    """(token_count, punct_ratio, quality) SQL expressions over ``text`` —
    the literal DuckDB replay of functions.text.quality_score."""
    toks = "CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    stripped = "regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')"
    pr = f"CASE WHEN length(text) > 0 THEN CAST(length(text) - length({stripped}) AS DOUBLE) / length(text) ELSE 0.0 END"
    stop = "['the','a','of','and','to','in','is','it','for','on']"
    toks_arr = "CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END"
    swr = (
        f"CASE WHEN {toks} > 0 THEN CAST(len(list_filter({toks_arr}, "
        f"t -> list_contains({stop}, lower(t)))) AS DOUBLE) / ({toks}) ELSE 0.0 END"
    )
    quality = (
        f"(0.4 * least(CAST({toks} AS DOUBLE) / 64.0, 1.0) "
        f"+ 0.3 * (1.0 - ({pr})) "
        f"+ 0.3 * least(4.0 * ({swr}), 1.0))"
    )
    return toks, pr, quality


def _sql_text_stats() -> str:
    toks, pr, quality = _sql_quality_parts()
    return f"""
        SELECT doc_id,
               CAST({toks} AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS len_chars,
               {pr} AS punct_ratio,
               {quality} AS quality
        FROM documents
    """


def _sql_lang_guess() -> str:
    """DuckDB expression replaying functions.text.lang_id over ``text``."""
    from kaer_spark.functions.text import LANG_MARKERS

    toks = "list_transform(CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END, t -> lower(t))"
    scores = {
        lang: f"len(list_intersect({toks}, {[w for w in ws]!r}))"
        for lang, ws in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cjk = "length(regexp_replace(text, '[^一-鿿]', '', 'g'))"
    branches = " ".join(
        f"WHEN ({scores[lang]}) = ({best}) THEN '{lang}'" for lang in sorted(scores)
    )
    return f"CASE WHEN {cjk} > 0 THEN 'zh' WHEN ({best}) <= 0 THEN 'und' {branches} END"


def _sql_lang_id_counts() -> str:
    return f"""
        SELECT {_sql_lang_guess()} AS guess, count(*) AS n FROM documents GROUP BY 1
    """


def _sql_minhash(extra_where: str = "") -> str:
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    n = JACCARD_N
    coeffs = minhash_coeffs(MINHASH_HASHES, 42)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    slots = ", ".join(
        f"list_min(list_transform(fps, f -> (f * {a} + {b}) % {HASH_MOD})) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, "
        + " || ',' || ".join(
            f"CAST(s{bi * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS key FROM sigs"
        for bi in range(MINHASH_BANDS)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n} {extra_where}
        ),
        fps AS (SELECT id, shingles,
                       list_transform(shingles, s -> {_sql_poly_hash('s')}) AS fps
                FROM sh),
        sigs AS (SELECT id, shingles, {slots} FROM fps),
        banded AS ({band_selects}),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b USING (band, key)
          WHERE a.id < b.id
        )
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.id = c.id_a
        JOIN sh sb ON sb.id = c.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
              >= {JACCARD_THRESHOLD!r}
    """


def _sql_bm25() -> str:
    """Replay of operators.ranking.bm25_scores: same tokenization, same
    rational idf, same pinned association order — bit-exact doubles."""
    from kaer_spark.operators.ranking import B_DEFAULT, K1_DEFAULT

    k1, b = K1_DEFAULT, B_DEFAULT
    toks = (
        "CASE WHEN trim(text) = '' THEN [] "
        "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
    )
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    norm = f"(CAST(base.dl AS DOUBLE) / {avgdl})"
    terms = []
    for i in range(len(BM25_TERMS)):
        idf = (
            f"(((CAST(s.n AS DOUBLE) - CAST(s.df{i} AS DOUBLE)) + 0.5)"
            f" / (CAST(s.df{i} AS DOUBLE) + 0.5))"
        )
        num = f"(CAST(base.tf{i} AS DOUBLE) * ({k1 + 1.0!r}))"
        denom = (
            f"(CAST(base.tf{i} AS DOUBLE)"
            f" + ({k1!r} * (({1.0 - b!r}) + ({b!r} * {norm}))))"
        )
        terms.append(f"(({idf} * {num}) / {denom})")
    score = terms[0]
    for t in terms[1:]:
        score = f"({score} + {t})"
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols}
          FROM (SELECT doc_id, {toks} AS toks FROM documents)
        ),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS sumdl, {df_cols}
          FROM base
        )
        SELECT base.doc_id, {score} AS bm25 FROM base, s
    """


def _sql_training_mix_packed() -> str:
    """Chained replay of pipelines.training_mix_pipeline: the weighted_mix
    CASE bucket filter → the quality rank cut (counts over the MIXED
    subset) → min-id-per-text dedup → the sharded packing cumsum, each the
    independently-verified oracle of its stage."""
    _, _, quality = _sql_quality_parts()
    return f"""
        WITH mix AS (
          SELECT doc_id, lang, text FROM documents
          WHERE (((doc_id * 2654435761 + 40503) % 1000000007 + 1000000007) % 1000000007) % 1000
                < CASE source
                    WHEN 'src0' THEN {MIX_RATES["src0"]}
                    WHEN 'src1' THEN {MIX_RATES["src1"]}
                    WHEN 'src2' THEN {MIX_RATES["src2"]}
                    ELSE {MIX_DEFAULT_PERMILLE} END
        ),
        q AS (SELECT doc_id, lang, text, {quality} AS quality FROM mix),
        r AS (
          SELECT doc_id, lang, text, quality,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY quality DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM q
        ),
        kept AS (SELECT doc_id, text FROM r WHERE rn <= (n * 500) // 1000),
        uniq AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) AS drn
            FROM kept
          ) WHERE drn = 1
        ),
        t AS (
          SELECT doc_id, ((doc_id % {PACK_SHARDS} + {PACK_SHARDS}) % {PACK_SHARDS}) AS shard,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
          FROM uniq
        ),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
          FROM t
        )
        SELECT shard, CAST(excl // {PACK_MAX_TOKENS} AS BIGINT) AS pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1, 2
    """


def _sql_top_quality() -> str:
    """Replay of pipelines.top_quality_fraction(keep_permille=250, by=lang):
    same quality expression, same (quality DESC, doc_id) rank, same integer
    cut — then the per-lang report."""
    _, _, quality = _sql_quality_parts()
    return f"""
        WITH q AS (SELECT lang, doc_id, {quality} AS quality FROM documents),
        r AS (
          SELECT lang, doc_id, quality,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY quality DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM q
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               min(quality) AS min_quality, min(doc_id) AS min_id
        FROM r WHERE rn <= (n * 250) // 1000 GROUP BY lang
    """


def _sql_multimodal() -> str:
    # documents.text is pure ASCII in the fixtures (verified), so UTF-8 bytes
    # == codepoints and the oracle can replay byte features from characters
    codes = "list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))"
    hist_csv = " || ',' || ".join(
        f"CAST(len(list_filter({codes}, c -> c // 16 = {b})) AS VARCHAR)"
        for b in range(16)
    )
    return f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(list_sum({codes}) AS DOUBLE) / length(text) AS byte_mean,
               {hist_csv} AS hist_csv,
               md5(text) AS content_digest
        FROM documents
    """


# ---------------------------------------------------------------------------
# round-7 oracle builders (the r6 operator surface)
# ---------------------------------------------------------------------------
def _sql_lcg_hk(id_expr: str = "doc_id") -> str:
    """The engine's non-negative LCG hash (sampling.SAMPLE_* constants) —
    the established ((x % P + P) % P) replay of F.pmod."""
    return (
        f"((({id_expr} * 2654435761 + 40503) % 1000000007 + 1000000007)"
        " % 1000000007)"
    )


_SQL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []"
    " ELSE regexp_split_to_array(trim(text), '\\s+') END"
)
_SQL_NTOK = (
    "CAST(CASE WHEN trim(text) = '' THEN 0"
    " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)


def _sql_mmr_rerank(k: int = 10, pool: int = 40, lam: float = 0.5) -> str:
    """Replay of similarity.mmr_rerank as a recursive CTE: the same
    cosine pool cut (rel DESC, id), pairwise sims through the identical
    left-assoc dot chains and sqrt norms, and each greedy pick re-derived
    by ORDER BY (λ·rel − (1−λ)·max-sim-to-selected) DESC, id LIMIT 1 with
    the selected set carried as a LIST column — empty-set max-sim pinned
    to 0.0 exactly like the engine's ``default=0.0``."""
    lam_f = float(lam)
    inv = 1.0 - lam_f
    cos = _sql_cosine_lit("embedding", QVEC)
    simab = (
        f"({_sql_dot_cols('a.embedding', 'b.embedding')})"
        f" / (sqrt({_sql_dot_cols('a.embedding', 'a.embedding')})"
        f" * sqrt({_sql_dot_cols('b.embedding', 'b.embedding')}))"
    )
    score = (
        f"({lam_f!r} * c.rel - {inv!r} * coalesce("
        f"(SELECT max(p.sim) FROM sims p WHERE p.ia = c.id"
        f" AND list_contains(s.ids, p.ib)), 0.0))"
    )
    return f"""
        WITH RECURSIVE pool AS (
          SELECT vec_id AS id, embedding, {cos} AS rel
          FROM embeddings
          WHERE {cos} IS NOT NULL
          ORDER BY rel DESC, vec_id ASC
          LIMIT {pool}
        ),
        sims AS (
          SELECT a.id AS ia, b.id AS ib, {simab} AS sim
          FROM pool a JOIN pool b ON a.id <> b.id
        ),
        first_pick AS (
          SELECT id FROM pool
          ORDER BY ({lam_f!r} * rel) DESC, id ASC LIMIT 1
        ),
        sel AS (
          SELECT 1 AS step, id, [id] AS ids FROM first_pick
          UNION ALL
          SELECT s.step + 1, pick.id, list_append(s.ids, pick.id)
          FROM sel s, LATERAL (
            SELECT c.id
            FROM pool c
            WHERE NOT list_contains(s.ids, c.id)
            ORDER BY {score} DESC, c.id ASC
            LIMIT 1
          ) pick
          WHERE s.step < {k}
        )
        SELECT CAST(s.step AS BIGINT) AS rank, s.id AS vec_id,
               p.rel AS relevance
        FROM sel s JOIN pool p ON p.id = s.id
        ORDER BY rank
    """


def _sql_zipf_profile(
    top_ranks: int = 200, cell_d: int = 12, out_d: int = 6
) -> str:
    """Replay of ranking.zipf_profile: same tokenization and
    (freq DESC, token) rank order, the five ln-product sums quantized to
    the same decimal grid (order-free), and the slope/R² float64
    arithmetic parenthesized exactly as the engine's expression tree."""
    toks = (
        "CASE WHEN trim(text) = '' THEN [] "
        "ELSE regexp_split_to_array(trim(text), '\\s+') END"
    )

    def q(term: str, name: str) -> str:
        return (
            f"CAST(sum(CAST({term} AS DECIMAL(28,{cell_d}))) AS DOUBLE)"
            f" AS {name}"
        )

    x = "ln(CAST(r AS DOUBLE))"
    y = "ln(CAST(c AS DOUBLE))"
    cov = "(CAST(n AS DOUBLE) * sxy - sx * sy)"
    varx = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
    vary = "(CAST(n AS DOUBLE) * syy - sy * sy)"
    return f"""
        WITH cnt AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest({toks}) AS w FROM documents)
          GROUP BY w
        ),
        tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
                       count(*) AS vocab FROM cnt),
        top AS (SELECT w, c FROM cnt ORDER BY c DESC, w ASC
                LIMIT {top_ranks}),
        ranked AS (SELECT c,
                          row_number() OVER (ORDER BY c DESC, w ASC) AS r
                   FROM top),
        sums AS (SELECT count(*) AS n, {q(x, 'sx')}, {q(y, 'sy')},
                        {q(f'{x} * {y}', 'sxy')}, {q(f'{x} * {x}', 'sxx')},
                        {q(f'{y} * {y}', 'syy')}
                 FROM ranked)
        SELECT n_tokens, vocab, CAST(n AS BIGINT) AS ranks_used,
               CASE WHEN {varx} > 0
                    THEN round({cov} / {varx}, {out_d}) END AS zipf_slope,
               CASE WHEN {varx} > 0 AND {vary} > 0
                    THEN round({cov} * {cov} / ({varx} * {vary}), {out_d})
               END AS zipf_r2
        FROM tot, sums
    """


def _sql_fuzzy_near_dups(max_edits: int = 2, key_len: int = 32) -> str:
    """Brute-force ground truth for dedup.fuzzy_near_dups: the SAME
    normalized fixed-width key, then the exhaustive quadratic
    levenshtein filter. No blocking replay — the engine's segment
    blocking is complete at the threshold, so it must MATCH exhaustive
    enumeration, not merely its own candidate generation."""
    key = (
        "rpad(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),"
        f" 1, {key_len}), {key_len}, ' ')"
    )
    return f"""
        WITH k AS (
          SELECT doc_id, {key} AS key
          FROM documents
          WHERE length(trim(text)) > 0
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_distance
        FROM k a JOIN k b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.key, b.key) <= {max_edits}
    """


def _sql_hll(source_sql: str, group_cols: list[str] | None = None) -> str:
    """Replay of sketches.hll_distinct over a ``v``-producing subquery:
    same paired folds, same five-round alternating-modulus Lehmer mixer
    (the avalanche — see sketches.py), same trailing-zeros rank via
    length(bin(r & -r)) (no leading zeros on either engine), INTEGER
    harmonic numerator (order-free — no float accumulation hazard),
    alpha and the combined raw-estimate numerator embedded as the
    identical Python-computed literals, linear-counting branch on the
    same condition."""
    from kaer_spark.operators.sketches import _MIX, HLL_Q, hll_alpha

    m = 1 << HLL_P
    q1 = HLL_Q + 1  # 26
    c1 = hll_alpha(m) * float(m) * float(m) * float(1 << q1)

    def mix(a: str, b: str) -> str:
        u = f"(({a}) * {_MIX[0][0]} + ({b})) % {PM}"
        for (mul, add), mod in zip(_MIX[1:], [PM2, PM, PM2, PM]):
            u = f"(({u}) * {mul} + {add}) % {mod}"
        return u

    fold2 = (
        f"(CASE WHEN length(v) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(range(1, length(v) + 1), "
        f"i -> CAST(ascii(substr(v, i, 1)) AS BIGINT)), "
        f"(a, x) -> (a * {PB2} + x) % {PM2}) END)"
    )
    z = f"zp + ({m} - used) * {1 << q1}"
    raw = f"({c1!r} / CAST({z} AS DOUBLE))"
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    gby_r = ("GROUP BY " + ", ".join(g + ["idx"])) if g else "GROUP BY idx"
    gby_a = ("GROUP BY " + ", ".join(g)) if g else ""
    return f"""
        WITH src AS ({source_sql}),
        f AS (SELECT {gsel}{_sql_poly_hash('v')} AS h1, {fold2} AS h2
              FROM src),
        s AS (SELECT {gsel}({mix('h1', 'h2')}) % {m} AS idx,
                     ({mix('h2', 'h1')}) AS r
              FROM f),
        r AS (SELECT {gsel}idx, max(CASE WHEN r = 0 THEN {q1}
                                   ELSE least(length(bin(r & (-r))), {q1})
                              END) AS mj
              FROM s {gby_r}),
        a AS (SELECT {gsel}CAST(count(*) AS BIGINT) AS used,
                     CAST(coalesce(sum(1::BIGINT << ({q1} - mj)), 0)
                          AS BIGINT) AS zp
              FROM r {gby_a})
        SELECT {gsel}CAST({m} AS BIGINT) AS m,
               used AS used_registers,
               CAST({m} - used AS BIGINT) AS zero_registers,
               CAST({z} AS BIGINT) AS z_num,
               CASE WHEN {raw} <= {2.5 * m!r} AND {m} - used > 0
                    THEN {float(m)!r}
                         * ln({float(m)!r} / CAST({m} - used AS DOUBLE))
                    ELSE {raw} END AS estimate
        FROM a
    """


def _sql_cms_token_counts() -> str:
    """Replay of sketches.cms_build + cms_query over the documents token
    stream: same folds, same mixer, same universal-hash cells, integer
    counter sums (order-free), min-over-depth probe with literal (v, j,
    pos) rows computed from the same constants."""
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs
    from kaer_spark.operators.sketches import _MIX

    coeffs = minhash_coeffs(CMS_DEPTH, CMS_SEED)

    def mix(a: str, b: str) -> str:
        u = f"(({a}) * {_MIX[0][0]} + ({b})) % {PM}"
        for (mul, add), mod in zip(_MIX[1:], [PM2, PM, PM2, PM]):
            u = f"(({u}) * {mul} + {add}) % {mod}"
        return u

    def py_mix(a: int, b: int) -> int:
        u = (a * _MIX[0][0] + b) % PM
        for (mul, add), mod in zip(_MIX[1:], [PM2, PM, PM2, PM]):
            u = (u * mul + add) % mod
        return u

    fold2 = (
        f"(CASE WHEN length(v) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(range(1, length(v) + 1), "
        f"i -> CAST(ascii(substr(v, i, 1)) AS BIGINT)), "
        f"(a, x) -> (a * {PB2} + x) % {PM2}) END)"
    )
    cell_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, (((u * {a} + {b}) % {HASH_MOD}) % {CMS_WIDTH}) AS pos FROM u"
        for j, (a, b) in enumerate(coeffs)
    )
    probes = []
    for v in BM25_TERMS:
        x1 = x2 = 0
        for ch in v:
            x1 = (x1 * PB + ord(ch)) % PM
            x2 = (x2 * PB2 + ord(ch)) % PM2
        u = py_mix(x1, x2)
        for j, (a, b) in enumerate(coeffs):
            probes.append(f"('{v}', {j}, {((u * a + b) % PM) % CMS_WIDTH})")
    return f"""
        WITH t AS (
          SELECT unnest(CASE WHEN trim(text) = '' THEN []
                             ELSE regexp_split_to_array(trim(text), '\\s+')
                        END) AS v
          FROM documents
        ),
        h AS (SELECT {_sql_poly_hash('v')} AS h1, {fold2} AS h2 FROM t),
        u AS (SELECT ({mix('h1', 'h2')}) AS u FROM h),
        cells AS ({cell_rows}),
        cnt AS (SELECT j, pos, CAST(count(*) AS BIGINT) AS cnt
                FROM cells GROUP BY j, pos),
        probes(v, j, pos) AS (VALUES {', '.join(probes)})
        SELECT probes.v,
               CAST(min(coalesce(cnt.cnt, 0)) AS BIGINT) AS estimate
        FROM probes LEFT JOIN cnt
          ON cnt.j = probes.j AND cnt.pos = probes.pos
        GROUP BY probes.v
    """


def _sql_cdc_stats() -> str:
    """Replay of dedup.cdc_dedup_stats hash-for-hash: same flat power-
    basis window fingerprints (the winnowing arithmetic at w=16), same
    boundary rule (cut after windows ≡ 0 mod divisor; 0 and len always
    bound), same paired Horner fold over each chunk's codepoints.
    list_reduce seeds from the first element, which equals the fold's
    first step since chunks are never empty."""
    from kaer_spark.operators.dedup import (
        HASH_BASE,
        HASH_BASE2,
        HASH_MOD,
        HASH_MOD2,
    )

    w, d = CDC_W, CDC_DIVISOR
    pw1 = [pow(HASH_BASE, w - 1 - j, HASH_MOD) for j in range(w)]
    pw2 = [pow(HASH_BASE2, w - 1 - j, HASH_MOD2) for j in range(w)]
    h1 = " + ".join(f"codes[CAST(i + {j} AS INT)] * {pw1[j]}" for j in range(w))
    h2 = " + ".join(f"codes[CAST(i + {j} AS INT)] * {pw2[j]}" for j in range(w))
    winfp = f"(({h1}) % {HASH_MOD}) * {HASH_MOD2} + (({h2}) % {HASH_MOD2})"
    fold = (
        f"list_reduce(list_transform(range(s + 1, e + 1),"
        f" i -> codes[CAST(i AS INT)]),"
        f" (a, x) -> (a * {{b}} + x) % {{m}})"
    )
    chfp = (
        f"({fold.format(b=HASH_BASE, m=HASH_MOD)}) * {HASH_MOD2}"
        f" + ({fold.format(b=HASH_BASE2, m=HASH_MOD2)})"
    )
    return f"""
        WITH cd AS (
          SELECT doc_id AS id,
                 list_transform(range(1, length(text) + 1),
                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
                   AS codes,
                 length(text) AS n, length(text) - {w} + 1 AS nh
          FROM documents WHERE length(text) > 0
        ),
        hs AS (
          SELECT id, unnest(range(1, greatest(nh, 0) + 1)) AS i, codes
          FROM cd
        ),
        cuts AS (
          SELECT id, i + {w} - 1 AS b FROM hs WHERE ({winfp}) % {d} = 0
        ),
        bounds AS (
          SELECT DISTINCT id, b FROM (
            SELECT id, 0 AS b FROM cd
            UNION ALL SELECT id, n AS b FROM cd
            UNION ALL SELECT id, b FROM cuts
          )
        ),
        sp AS (
          SELECT id, b AS s,
                 lead(b) OVER (PARTITION BY id ORDER BY b) AS e
          FROM bounds
        ),
        ck AS (
          SELECT sp.id, sp.s, sp.e, cd.codes
          FROM sp JOIN cd ON cd.id = sp.id WHERE sp.e IS NOT NULL
        ),
        fps AS (SELECT id, e - s AS clen, {chfp} AS fp FROM ck),
        per AS (
          SELECT fp, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(max(clen) AS BIGINT) AS clen
          FROM fps GROUP BY fp
        )
        SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
               CAST(count(*) AS BIGINT) AS n_distinct_chunks,
               CAST(sum(cnt * clen) AS BIGINT) AS total_chars,
               CAST(sum(clen) AS BIGINT) AS distinct_chars,
               1.0 - CAST(sum(clen) AS DOUBLE)
                   / CAST(sum(cnt * clen) AS DOUBLE) AS dedup_ratio
        FROM per
    """


def _sql_bloom_decontam() -> str:
    """Replay of contamination.bloom_contamination_report: same word
    3-grams (distinct per doc), same polynomial fingerprint, same
    LCG-derived universal-hash constants, same mod-m bit positions — the
    bitset is semantically the SET of set positions, so the oracle checks
    membership against that set (packing into 63-bit words is storage,
    not semantics). Reproduces the exact false-positive set."""
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    coeffs = minhash_coeffs(BLOOM_K, BLOOM_SEED)

    def pos(j: int) -> str:
        a, b = coeffs[j]
        return f"(((fp * {a} + {b}) % {HASH_MOD}) % {BLOOM_M_BITS})"

    bits_union = " UNION ".join(
        f"SELECT {pos(j)} AS p FROM tef" for j in range(BLOOM_K)
    )
    member = " AND ".join(
        f"{pos(j)} IN (SELECT p FROM bits)" for j in range(BLOOM_K)
    )
    return f"""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
          FROM documents
        ),
        sh AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(ws) >= 3
                 THEN list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                 ELSE [] END) AS grams
          FROM w
        ),
        teg AS (SELECT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0),
        tef AS (SELECT {_sql_poly_hash('g')} AS fp FROM teg),
        bits AS ({bits_union}),
        trg AS (SELECT doc_id, unnest(grams) AS g FROM sh
                WHERE doc_id % 97 <> 0),
        trf AS (SELECT doc_id, {_sql_poly_hash('g')} AS fp FROM trg)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
        FROM trf
        WHERE {member}
        GROUP BY doc_id
    """


def _sql_fuzzy_dups_between(max_edits: int = 2, key_len: int = 32) -> str:
    """Brute-force cross-product ground truth for
    dedup.fuzzy_near_dups_between over the even × odd parity split."""
    key = (
        "rpad(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),"
        f" 1, {key_len}), {key_len}, ' ')"
    )
    return f"""
        WITH k AS (
          SELECT doc_id, {key} AS key
          FROM documents
          WHERE length(trim(text)) > 0
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_distance
        FROM k a JOIN k b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        WHERE levenshtein(a.key, b.key) <= {max_edits}
    """


def _sql_token_divergence(
    lang_a: str = "en", lang_b: str = "de", alpha: float = 0.5,
    cell_d: int = 14, out_d: int = 6,
) -> str:
    """Replay of ranking.token_divergence: same whitespace tokenization,
    same union-vocab full-outer counts, the smoothed probabilities built
    with the IDENTICAL float64 op tree (int→double conversions exact,
    op order matched term for term), each per-token term quantized to the
    same DECIMAL(28,14) grid before the exact decimal sum — ln()'s
    last-ulp JVM/libm disagreement dies below the grid, the order-free
    decimal sum kills shuffle-order drift, and the final 1e-6 rounding
    absorbs boundary stragglers (the bigram_lm machinery)."""
    toks = (
        "CASE WHEN trim(text) = '' THEN [] "
        "ELSE regexp_split_to_array(trim(text), '\\s+') END"
    )
    a = repr(float(alpha))
    pa = f"(CAST(ca AS DOUBLE) + {a}) / (CAST(na AS DOUBLE) + {a} * CAST(v AS DOUBLE))"
    pb = f"(CAST(cb AS DOUBLE) + {a}) / (CAST(nb AS DOUBLE) + {a} * CAST(v AS DOUBLE))"

    def q(term: str) -> str:
        return (
            f"round(CAST(sum(CAST({term} AS DECIMAL(28,{cell_d}))) AS DOUBLE),"
            f" {out_d})"
        )

    return f"""
        WITH ta AS (SELECT unnest({toks}) AS w FROM documents
                    WHERE lang = '{lang_a}'),
        tb AS (SELECT unnest({toks}) AS w FROM documents
               WHERE lang = '{lang_b}'),
        ka AS (SELECT w, count(*) AS ca FROM ta GROUP BY w),
        kb AS (SELECT w, count(*) AS cb FROM tb GROUP BY w),
        j AS (SELECT coalesce(ka.ca, 0) AS ca, coalesce(kb.cb, 0) AS cb
              FROM ka FULL OUTER JOIN kb ON ka.w = kb.w),
        tot AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS na,
                       CAST(coalesce(sum(cb), 0) AS BIGINT) AS nb,
                       count(*) AS v FROM j),
        terms AS (SELECT na, nb, v, {pa} AS pa, {pb} AS pb FROM j, tot)
        SELECT CAST(coalesce(max(na), 0) AS BIGINT) AS n_tokens_a,
               CAST(coalesce(max(nb), 0) AS BIGINT) AS n_tokens_b,
               count(*) AS vocab_union,
               {q('pa * ln(pa / pb)')} AS kl_ab,
               {q('pb * ln(pb / pa)')} AS kl_ba,
               {q('(pa * ln(pa / ((pa + pb) / 2.0)) + pb * ln(pb / ((pa + pb) / 2.0))) / 2.0')} AS js_div
        FROM terms
    """


def _sql_embedding_drift(dim: int) -> str:
    """embedding_drift replayed: the same quantization, HUGEINT moment
    sums per parity side, the identical integer mass folds, and the same
    left-associated final float64 divisions (2^40 is the bits=20 scale²)."""
    q = "CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS HUGEINT)"
    scale2 = float((1 << 20) ** 2)

    def side(tag: str, par: int) -> str:
        return f"""
        q{tag} AS (
          SELECT list_transform(embedding, x -> {q}) AS qv
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0
            AND (label % 2) = {par}
        ),
        s{tag} AS (
          SELECT i.i AS i,
                 CAST(sum(qv[i.i]) AS HUGEINT) AS m,
                 CAST(sum(qv[i.i] * qv[i.i]) AS HUGEINT) AS g
          FROM q{tag}, range(1, {dim + 1}) i(i) GROUP BY 1
        ),
        n{tag} AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q{tag})"""

    return f"""
        WITH {side('a', 0)},
        {side('b', 1)},
        per AS (
          SELECT (sa.m * nb.n - sb.m * na.n) * (sa.m * nb.n - sb.m * na.n)
                   AS gap2,
                 na.n * sa.g - sa.m * sa.m AS v_a,
                 nb.n * sb.g - sb.m * sb.m AS v_b,
                 na.n AS n_a, nb.n AS n_b
          FROM sa JOIN sb USING (i), na, nb
        )
        , tot AS (
          SELECT n_a, n_b, sum(gap2) AS sgap2, sum(v_a) AS sv_a,
                 sum(v_b) AS sv_b
          FROM per GROUP BY n_a, n_b
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(sgap2 AS DOUBLE)
                 / ((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                    * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                 / {scale2!r} AS mean_shift_l2sq,
               CAST(sv_a AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
                 / {scale2!r} AS var_trace_a,
               CAST(sv_b AS DOUBLE)
                 / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / {scale2!r} AS var_trace_b
        FROM tot
    """


def _sql_minhash_recall() -> str:
    """minhash_recall_report replayed: uncapped exact-Jaccard truth and
    the banded+verified pair set, both on the same LCG sample; recall is
    the same float64 division."""
    wh = (
        f"AND ({_sql_lcg_hk('doc_id')} % 1000) < {MINHASH_RECALL_PERMILLE}"
    )
    truth = _sql_jaccard_pairs(max_df=None, extra_where=wh)
    found = _sql_minhash(extra_where=wh)
    return f"""
        WITH c AS (
          SELECT (SELECT count(*) FROM ({truth})) AS n_truth,
                 (SELECT count(*) FROM ({found})) AS n_found
        )
        SELECT CAST(n_truth AS BIGINT) AS n_truth,
               CAST(n_found AS BIGINT) AS n_found,
               CAST(n_truth - n_found AS BIGINT) AS n_missed,
               CASE WHEN n_truth > 0
                    THEN CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE)
               END AS recall
        FROM c
    """


def _sql_bpe_ctes(merges: int) -> str:
    """The BPE training loop unrolled as CTEs: round i counts adjacent
    symbol pairs of the separator-encoded state s{i}, takes the argmax
    with the engine's exact tie-break, and applies the same
    left-to-right replace to form s{i+1}. ``chr(31)`` is BPE_SEP; ``w``
    rides along so the final state doubles as the per-word segmentation.
    On an all-pairs-exhausted corpus b{i} is empty and the cross join
    empties every later state, mirroring the engine's early break."""
    sep1 = "chr(31)"
    sep2 = "repeat(chr(31), 2)"
    ctes = [
        f"""
        s0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq,
                 {sep2} || array_to_string(
                   regexp_split_to_array(w, ''), {sep2}) || {sep2} AS s
          FROM (
            SELECT unnest(CASE WHEN trim(text) = '' THEN []
                     ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                   END) AS w
            FROM documents
          )
          WHERE NOT contains(w, {sep1})
          GROUP BY w
        )"""
    ]
    for i in range(merges):
        ctes.append(
            f"""
        p{i} AS (
          SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
            SELECT freq,
                   unnest(arr[1:len(arr) - 1]) AS lhs,
                   unnest(arr[2:len(arr)]) AS rhs
            FROM (SELECT freq, list_filter(string_split(s, {sep2}),
                                           x -> x != '') AS arr
                  FROM s{i})
          ) GROUP BY lhs, rhs
        ),
        b{i} AS (
          SELECT lhs, rhs, pair_count FROM p{i}
          ORDER BY pair_count DESC, lhs, rhs LIMIT 1
        ),
        s{i + 1} AS (
          SELECT w, freq,
                 replace(s, {sep1} || lhs || {sep2} || rhs || {sep1},
                         {sep1} || lhs || rhs || {sep1}) AS s
          FROM s{i}, b{i}
        )"""
        )
    return "WITH " + ",".join(ctes)


def _sql_embedding_gram(dim: int) -> str:
    """embedding_moments replayed relationally: quantize each component
    with the same exact float64 floor(x·2^20 + 0.5), then integer sums —
    order-free, so the parallel fold and this scan agree bit-for-bit."""
    q = "CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS HUGEINT)"
    return f"""
        WITH q AS (
          SELECT list_transform(embedding, x -> {q}) AS qv
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0
        ),
        gram AS (
          SELECT i.i - 1 AS i, j.j - 1 AS j,
                 CAST(sum(qv[i.i] * qv[j.j]) AS DECIMAL(38, 0)) AS s
          FROM q, range(1, {dim + 1}) i(i), range(1, {dim + 1}) j(j)
          WHERE j.j >= i.i GROUP BY 1, 2
        ),
        firsts AS (
          SELECT i.i - 1 AS i, -1 AS j,
                 CAST(sum(qv[i.i]) AS DECIMAL(38, 0)) AS s
          FROM q, range(1, {dim + 1}) i(i) GROUP BY 1
        ),
        cnt AS (
          SELECT -1 AS i, -1 AS j, CAST(count(*) AS DECIMAL(38, 0)) AS s
          FROM q
        )
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
               CAST(s AS VARCHAR) AS s FROM (
          SELECT * FROM gram
          UNION ALL SELECT * FROM firsts
          UNION ALL SELECT * FROM cnt
        )
    """


def _sql_bpe_merges(merges: int) -> str:
    steps = "\n          UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, lhs, rhs, pair_count FROM b{i}"
        for i in range(merges)
    )
    return _sql_bpe_ctes(merges) + f"""
        SELECT step, lhs, rhs, pair_count FROM (
          {steps}
        )
    """


def _sql_bpe_token_counts(merges: int) -> str:
    """Per-doc counts from the final training state s{merges}: the
    symbol count of each distinct word, joined back to occurrences."""
    sep1 = "chr(31)"
    sep2 = "repeat(chr(31), 2)"
    return _sql_bpe_ctes(merges) + f""",
        per_word AS (
          SELECT w, CAST(len(list_filter(string_split(s, {sep2}),
                                         x -> x != '')) AS BIGINT) AS n_units
          FROM s{merges}
        ),
        occ AS (
          SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(CASE WHEN trim(text) = '' THEN []
                     ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                   END) AS w
            FROM documents
          ) WHERE NOT contains(w, {sep1})
        ),
        per_doc AS (
          SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(per_word.n_units) AS BIGINT) AS n_bpe_tokens
          FROM occ JOIN per_word USING (w) GROUP BY occ.doc_id
        )
        SELECT d.doc_id,
               COALESCE(per_doc.n_words, 0) AS n_words,
               COALESCE(per_doc.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
    """


def _sql_budget_case(budgets: dict[str, int], default: int) -> str:
    whens = " ".join(f"WHEN '{g}' THEN {int(b)}" for g, b in sorted(budgets.items()))
    return f"CASE source {whens} ELSE {int(default)} END"


def _sql_token_budget_kept(src: str) -> str:
    """The token_budget_mix selection as chained CTEs over ``src`` (which
    must expose doc_id, source and a BIGINT ``tok``): the same shard-major
    exclusive cumsum + shard-offset prefix, all integer arithmetic."""
    hk = _sql_lcg_hk("doc_id")
    return f"""
        tb_t AS (
          SELECT *, {hk} AS hk, {hk} % {TOKEN_BUDGET_SHARDS} AS sh
          FROM {src}
        ),
        tb_c AS (
          SELECT *, COALESCE(SUM(tok) OVER (PARTITION BY source, sh
                     ORDER BY hk, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM tb_t
        ),
        tb_tot AS (SELECT source, sh, SUM(tok) AS sht FROM tb_t GROUP BY source, sh),
        tb_ofs AS (
          SELECT source, sh, COALESCE(SUM(sht) OVER (PARTITION BY source
                 ORDER BY sh ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM tb_tot
        ),
        tb_kept AS (
          SELECT tb_c.* FROM tb_c JOIN tb_ofs USING (source, sh)
          WHERE tb_ofs.o + tb_c.cum
                < {_sql_budget_case(TOKEN_BUDGETS, TOKEN_BUDGET_DEFAULT)}
        )
    """


def _sql_token_budget_mix() -> str:
    return f"""
        WITH t AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS tok FROM documents
        ),
        {_sql_token_budget_kept('t')}
        SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(tok) AS BIGINT) AS sum_tokens,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM tb_kept GROUP BY source
    """


def _sql_temperature_rates_cte() -> str:
    """Per-language temperature rates re-derived IN SQL: pow replays
    CPython's libm pow bit-for-bit on this platform, and the permille
    rounding would need a 1e-13-relative coincidence to split (the
    exponent literal is the exact float64 repr of tau - 1.0)."""
    exp = repr(TEMP_TAU - 1.0)
    return f"""
        tr_n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        tr_w AS (SELECT lang, pow(CAST(n AS DOUBLE), {exp}) AS w FROM tr_n),
        tr_top AS (SELECT max(w) AS top FROM tr_w),
        tr_r AS (
          SELECT lang,
                 GREATEST(1.0, LEAST(1000.0, round((1000 * w) / top))) AS rate
          FROM tr_w, tr_top
        )
    """


def _sql_temperature_mix() -> str:
    return f"""
        WITH {_sql_temperature_rates_cte()},
        k AS (
          SELECT d.lang, d.doc_id
          FROM documents d JOIN tr_r USING (lang)
          WHERE {_sql_lcg_hk('d.doc_id')} % 1000 < tr_r.rate
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM k GROUP BY lang
    """


def _sql_bigrams(src: str, prefix: str) -> str:
    """Exploded (id, w, v) bigram CTEs over ``src`` (exposing id, t)."""
    return f"""
        {prefix}g0 AS (
          SELECT id, unnest(list_transform(range(1, len(t)),
                            i -> {{'w': t[i], 'v': t[i + 1]}})) AS bg
          FROM {src}
        ),
        {prefix}g AS (SELECT id, bg.w AS w, bg.v AS v FROM {prefix}g0)
    """


def _sql_bigram_lm(pretrained: bool) -> str:
    """Replay of ranking.bigram_lm_scores(quantize=BIGRAM_QUANTIZE): the
    same tokenization/bigram explosion, integer count aggregates, the
    identical (c+α)/(c+αV) op tree, ln() quantized to the decimal grid
    (exact order-independent decimal sums), avg rounded — see
    BIGRAM_QUANTIZE for why the two-stage quantization is required."""
    cell_d, avg_d = BIGRAM_QUANTIZE
    a = repr(1.0)  # alpha
    if pretrained:
        heads = f"""
        WITH rbase AS (SELECT doc_id AS id, {_SQL_TOKS} AS t
                       FROM documents WHERE doc_id % 2 = 0),
        base AS (SELECT doc_id AS id, {_SQL_TOKS} AS t
                 FROM documents WHERE doc_id % 2 = 1),
        {_sql_bigrams('rbase', 'r')},
        {_sql_bigrams('base', '')},
        vocab AS (SELECT CAST(count(*) AS BIGINT) AS vs
                  FROM (SELECT DISTINCT unnest(t) AS tok FROM rbase)),
        uni AS (SELECT w, count(*) AS cw FROM rg GROUP BY w),
        bi AS (SELECT w, v, count(*) AS cwv FROM rg GROUP BY w, v),
        lp AS (
          SELECT g.id,
                 CAST(ln((COALESCE(cwv, 0) + {a})
                         / (COALESCE(cw, 0) + {a} * vs))
                      AS DECIMAL(28,{cell_d})) AS qlp
          FROM g LEFT JOIN bi USING (w, v) LEFT JOIN uni USING (w)
          CROSS JOIN vocab
        )"""
    else:
        heads = f"""
        WITH base AS (SELECT doc_id AS id, {_SQL_TOKS} AS t FROM documents),
        {_sql_bigrams('base', '')},
        vocab AS (SELECT CAST(count(*) AS BIGINT) AS vs
                  FROM (SELECT DISTINCT unnest(t) AS tok FROM base)),
        uni AS (SELECT w, count(*) AS cw FROM g GROUP BY w),
        bi AS (SELECT w, v, count(*) AS cwv FROM g GROUP BY w, v),
        lp AS (
          SELECT g.id,
                 CAST(ln((cwv + {a}) / (cw + {a} * vs))
                      AS DECIMAL(28,{cell_d})) AS qlp
          FROM g JOIN bi USING (w, v) JOIN uni USING (w) CROSS JOIN vocab
        )"""
    return f"""
        {heads},
        p AS (
          SELECT id, CAST(count(*) AS BIGINT) AS nb,
                 round(CAST(sum(qlp) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                       {avg_d}) AS avg_logp
          FROM lp GROUP BY id
        )
        SELECT b.id AS doc_id, COALESCE(p.nb, 0) AS n_bigrams, p.avg_logp
        FROM base b LEFT JOIN p ON b.id = p.id
    """


def _sql_dsir_scores() -> str:
    """Replay of ranking.dsir_scores(docs, target=lang-en slice,
    source=self): one shared bigram explosion, a left-joined target-model
    chain and an inner-joined self-model chain, quantized averages whose
    difference is the importance weight."""
    cell_d, avg_d = BIGRAM_QUANTIZE
    a = repr(1.0)
    avg = (
        f"round(CAST(sum(qlp) AS DOUBLE) / CAST(count(*) AS DOUBLE), {avg_d})"
    )
    return f"""
        WITH base AS (SELECT doc_id AS id, {_SQL_TOKS} AS t FROM documents),
        {_sql_bigrams('base', '')},
        trbase AS (SELECT doc_id AS id, {_SQL_TOKS} AS t
                   FROM documents WHERE lang = 'en'),
        {_sql_bigrams('trbase', 'tr')},
        tvocab AS (SELECT CAST(count(*) AS BIGINT) AS vs
                   FROM (SELECT DISTINCT unnest(t) AS tok FROM trbase)),
        tuni AS (SELECT w, count(*) AS cw FROM trg GROUP BY w),
        tbi AS (SELECT w, v, count(*) AS cwv FROM trg GROUP BY w, v),
        svocab AS (SELECT CAST(count(*) AS BIGINT) AS vs
                   FROM (SELECT DISTINCT unnest(t) AS tok FROM base)),
        suni AS (SELECT w, count(*) AS cw FROM g GROUP BY w),
        sbi AS (SELECT w, v, count(*) AS cwv FROM g GROUP BY w, v),
        tlp AS (
          SELECT g.id,
                 CAST(ln((COALESCE(cwv, 0) + {a})
                         / (COALESCE(cw, 0) + {a} * vs))
                      AS DECIMAL(28,{cell_d})) AS qlp
          FROM g LEFT JOIN tbi USING (w, v) LEFT JOIN tuni USING (w)
          CROSS JOIN tvocab
        ),
        slp AS (
          SELECT g.id,
                 CAST(ln((cwv + {a}) / (cw + {a} * vs))
                      AS DECIMAL(28,{cell_d})) AS qlp
          FROM g JOIN sbi USING (w, v) JOIN suni USING (w) CROSS JOIN svocab
        ),
        tp AS (SELECT id, CAST(count(*) AS BIGINT) AS nb, {avg} AS t_lp
               FROM tlp GROUP BY id),
        sp AS (SELECT id, {avg} AS s_lp FROM slp GROUP BY id)
        SELECT b.id AS doc_id, COALESCE(tp.nb, 0) AS n_bigrams,
               (tp.t_lp - sp.s_lp) AS dsir
        FROM base b
        LEFT JOIN tp ON tp.id = b.id
        LEFT JOIN sp ON sp.id = b.id
    """


def _sql_perplexity_buckets() -> str:
    """Replay of ranking.perplexity_buckets(n_buckets=3, by=lang) over the
    self-trained quantized LM: both engines implement SQL-standard NTILE
    (larger buckets first), and the (avg_logp DESC NULLS LAST, doc_id)
    order is total, so bucket assignment is deterministic."""
    cell_d, avg_d = BIGRAM_QUANTIZE
    a = repr(1.0)
    return f"""
        WITH base AS (SELECT doc_id AS id, {_SQL_TOKS} AS t FROM documents),
        {_sql_bigrams('base', '')},
        vocab AS (SELECT CAST(count(*) AS BIGINT) AS vs
                  FROM (SELECT DISTINCT unnest(t) AS tok FROM base)),
        uni AS (SELECT w, count(*) AS cw FROM g GROUP BY w),
        bi AS (SELECT w, v, count(*) AS cwv FROM g GROUP BY w, v),
        lp AS (
          SELECT g.id,
                 CAST(ln((cwv + {a}) / (cw + {a} * vs))
                      AS DECIMAL(28,{cell_d})) AS qlp
          FROM g JOIN bi USING (w, v) JOIN uni USING (w) CROSS JOIN vocab
        ),
        p AS (
          SELECT id, round(CAST(sum(qlp) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                           {avg_d}) AS avg_logp
          FROM lp GROUP BY id
        ),
        j AS (
          SELECT d.doc_id, d.lang, p.avg_logp
          FROM documents d LEFT JOIN p ON p.id = d.doc_id
        )
        SELECT doc_id, lang, avg_logp,
               CAST(ntile(3) OVER (PARTITION BY lang
                    ORDER BY avg_logp DESC NULLS LAST, doc_id ASC)
                    AS INTEGER) AS bucket
        FROM j
    """


def _sql_ivf_knn_join(metric: str) -> str:
    """Replay of similarity.ivf_knn_join at nprobe = cells: full probe ⇒
    exact per-query rank, so the oracle is the plain window-rank kNN join
    (cell machinery provably changes nothing at full probe)."""
    if metric == "cosine":
        den = (
            f"(sqrt({_sql_dot_cols('e.embedding', 'e.embedding')})"
            f" * sqrt({_sql_dot_cols('q.embedding', 'q.embedding')}))"
        )
        score = (
            f"(CASE WHEN {den} <> 0.0 THEN"
            f" ({_sql_dot_cols('e.embedding', 'q.embedding')}) / {den} END)"
        )
        order = f"{score} DESC NULLS LAST, e.vec_id ASC"
    else:
        order = f"({_sql_l2sq_cols('e.embedding', 'q.embedding')}) ASC, e.vec_id ASC"
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   ORDER BY vec_id LIMIT 5),
        s AS (
          SELECT q.query_id, e.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY {order}) AS rank
          FROM q CROSS JOIN embeddings e
        )
        SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
        FROM s WHERE rank <= 5
    """


def _sql_ivf_knn_join_filtered() -> str:
    """Replay of index_store.ivf_index_knn_join(pred=) at nprobe = cells:
    full probe ⇒ exact per-query rank over the FILTERED corpus (the
    stored cell assignment provably changes nothing at full probe, and
    the pred sits below the join in both engines)."""
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   ORDER BY vec_id DESC LIMIT {IVFF_NQ}),
        s AS (
          SELECT q.query_id, e.vec_id,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ({_sql_l2sq_cols('e.embedding', 'q.embedding')})
                            ASC, e.vec_id ASC) AS rank
          FROM q CROSS JOIN embeddings e
          WHERE e.vec_id % {IVFF_MOD} = 1
        )
        SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
        FROM s WHERE rank <= {IVFF_K}
    """


def _sql_contrastive_triplets_mine() -> str:
    """Replay of the PARTIAL-probe triplet assembly — the full-probe
    oracle plus the probe machinery itself, every stage value-exact: the
    LSH pair family and closure (shared CTEs), spread-fit centroids
    (hash-ordered LIMIT, similarity.ivf_fit_spread's pmod arithmetic),
    spherical argmax-cosine cell assignment with the engine's (cos DESC,
    j ASC) tie-break, per-anchor top-nprobe cell ranks, candidates
    restricted to the anchor's probed cells, then the same co-member
    exclusion + cosine rank + min-positive join. No full-probe escape
    hatch: nprobe={CTM_NPROBE} of cells={CTM_CELLS}."""
    from kaer_spark.operators.similarity import _SPREAD_A, _SPREAD_B, _SPREAD_P

    hkey = (
        f"(((vec_id * {_SPREAD_A} + {_SPREAD_B}) % {_SPREAD_P})"
        f" + {_SPREAD_P}) % {_SPREAD_P}"
    )
    # cosine(row, centroid): hoisted norms, zero-denominator → NULL (the
    # engine's cosine_similarity guard; the fixture has no zero vectors)
    ccos = (
        f"(CASE WHEN (sqrt({_sql_dot_cols('e.embedding', 'e.embedding')})"
        f" * sqrt({_sql_dot_cols('c.cvec', 'c.cvec')})) <> 0.0 THEN"
        f" ({_sql_dot_cols('e.embedding', 'c.cvec')})"
        f" / (sqrt({_sql_dot_cols('e.embedding', 'e.embedding')})"
        f" * sqrt({_sql_dot_cols('c.cvec', 'c.cvec')})) END)"
    )
    return f"""
        WITH RECURSIVE lsh_pairs AS (
          SELECT id_a, id_b FROM ({_sql_embedding_dups()}) p
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM lsh_pairs WHERE id_a <> id_b
          UNION
          SELECT id_b, id_a FROM lsh_pairs WHERE id_a <> id_b
        ),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        clusters AS (
          SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        ),
        co AS (
          SELECT a.id AS qa, b.id AS qb
          FROM clusters a JOIN clusters b
            ON a.cluster_id = b.cluster_id AND a.id <> b.id
        ),
        pos AS (
          SELECT qa AS anchor_id, min(qb) AS positive_id
          FROM co GROUP BY qa
        ),
        cents AS (
          SELECT row_number() OVER (ORDER BY {hkey}, vec_id) - 1 AS j,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY {hkey}, vec_id LIMIT {CTM_CELLS})
        ),
        cc AS (
          SELECT e.vec_id, c.j, {ccos} AS cos
          FROM embeddings e CROSS JOIN cents c
        ),
        asg AS (
          SELECT vec_id, j AS cell FROM (
            SELECT vec_id, j,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, j ASC) AS rn
            FROM cc) WHERE rn = 1
        ),
        pr AS (
          SELECT vec_id AS anchor_id, j AS cell FROM (
            SELECT vec_id, j,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, j ASC) AS rn
            FROM cc
            WHERE vec_id IN (SELECT id FROM clusters)
          ) WHERE rn <= {CTM_NPROBE}
        ),
        scored AS (
          SELECT m.id AS anchor_id, c.vec_id AS doc_id,
                 CASE WHEN sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                           * sqrt({_sql_dot_cols('q.embedding', 'q.embedding')}) <> 0.0
                      THEN ({_sql_dot_cols('c.embedding', 'q.embedding')})
                           / (sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                              * sqrt({_sql_dot_cols('q.embedding', 'q.embedding')}))
                 END AS score
          FROM (SELECT DISTINCT id FROM clusters) m
          JOIN embeddings q ON q.vec_id = m.id
          JOIN pr ON pr.anchor_id = m.id
          JOIN asg ON asg.cell = pr.cell
          JOIN embeddings c ON c.vec_id = asg.vec_id
          WHERE c.vec_id <> m.id
            AND NOT EXISTS (SELECT 1 FROM co
                            WHERE co.qa = m.id AND co.qb = c.vec_id)
        ),
        r AS (
          SELECT anchor_id, doc_id, score,
                 row_number() OVER (
                   PARTITION BY anchor_id ORDER BY score DESC, doc_id ASC
                 ) AS rk
          FROM scored
        )
        SELECT r.anchor_id, p.positive_id, r.doc_id AS vec_id, r.score,
               CAST(r.rk AS BIGINT) AS rank
        FROM r JOIN pos p ON p.anchor_id = r.anchor_id
        WHERE r.rk <= {CT_K_NEG}
    """


def _sql_minhash_between(survivors: bool = False, threshold: float | None = None) -> str:
    """Cross-corpus (even × odd doc_id) replay of
    dedup.minhash_near_dups_between: signatures computed once globally
    (identical seeded math to the per-corpus engine computation), band
    collisions kept only across the parity split, exact-Jaccard verify.
    ``survivors=True`` flips to the dedup_against output: every even-id
    document with no over-threshold match."""
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    n = JACCARD_N
    coeffs = minhash_coeffs(MINHASH_HASHES, 42)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    thr = JACCARD_THRESHOLD if threshold is None else threshold
    slots = ", ".join(
        f"list_min(list_transform(fps, f -> (f * {a} + {b}) % {HASH_MOD})) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, "
        + " || ',' || ".join(
            f"CAST(s{bi * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS key FROM sigs"
        for bi in range(MINHASH_BANDS)
    )
    jac = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.shingles, sb.shingles)))"
    )
    body = f"""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n}
        ),
        fps AS (SELECT id, shingles,
                       list_transform(shingles, s -> {_sql_poly_hash('s')}) AS fps
                FROM sh),
        sigs AS (SELECT id, shingles, {slots} FROM fps),
        banded AS ({band_selects}),
        cand AS (
          SELECT DISTINCT a.id AS left_id, b.id AS right_id
          FROM banded a JOIN banded b USING (band, key)
          WHERE a.id % 2 = 0 AND b.id % 2 = 1
        ),
        pairs AS (
          SELECT c.left_id, c.right_id, {jac} AS jaccard
          FROM cand c
          JOIN sh sa ON sa.id = c.left_id
          JOIN sh sb ON sb.id = c.right_id
          WHERE {jac} >= {thr!r}
        )
    """
    if survivors:
        return f"""{body}
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 2 = 0
          AND doc_id NOT IN (SELECT left_id FROM pairs)
        """
    return f"{body}\n        SELECT left_id, right_id, jaccard FROM pairs"


def _sql_embedding_dups_between(threshold: float | None = None) -> str:
    """Cross-corpus (even × odd vec_id) replay of
    dedup.embedding_near_dups_between: same seeded planes on both sides
    (computed once globally), band collisions strictly across the parity
    split, exact-cosine verify."""
    from kaer_spark.operators.dedup import signlsh_planes

    thr = COSINE_DUP_THRESHOLD if threshold is None else threshold

    planes = signlsh_planes(
        len(QVEC), COSINE_LSH_BANDS * COSINE_LSH_BITS, COSINE_LSH_SEED
    )

    def band_key(vec: str, band: int) -> str:
        return _sql_signlsh_band_key(
            vec, planes[band * COSINE_LSH_BITS : (band + 1) * COSINE_LSH_BITS]
        )

    inv = "\n          UNION ALL ".join(
        f"SELECT vec_id AS id, {b} AS band, {band_key('embedding', b)} AS key FROM e"
        for b in range(COSINE_LSH_BANDS)
    )
    dot = _sql_dot_cols("ea.embedding", "eb.embedding")
    nrm = f"sqrt({_sql_dot_cols('embedding', 'embedding')})"
    cos = f"(CASE WHEN ea.nrm * eb.nrm <> 0.0 THEN ({dot}) / (ea.nrm * eb.nrm) END)"
    return f"""
        WITH e AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings),
        inv AS (
          {inv}
        ),
        cand AS (
          SELECT DISTINCT a.id AS left_id, b.id AS right_id
          FROM inv a JOIN inv b ON a.band = b.band AND a.key = b.key
          WHERE a.id % 2 = 0 AND b.id % 2 = 1
        )
        SELECT c.left_id, c.right_id, {cos} AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.left_id
        JOIN e eb ON eb.vec_id = c.right_id
        WHERE {cos} >= {thr!r}
    """


def _sql_neardup_ingest() -> str:
    """Full-chain replay of one neardup_ingest_batch over the parity
    split: the even-id corpus (re-keyed by INGEST_ID_SHIFT) screened
    against the odd-id reference (the at-rest MinHash index's content),
    then in-batch self-dedup — band self-collisions among the screen
    survivors, exact-Jaccard verify, recursive closure, min-id
    representatives. Signature/band CTEs identical to
    :func:`_sql_minhash_between` (same seeded math both sides)."""
    from kaer_spark.operators.dedup import HASH_MOD, minhash_coeffs

    n = JACCARD_N
    coeffs = minhash_coeffs(MINHASH_HASHES, 42)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    thr = JACCARD_THRESHOLD
    slots = ", ".join(
        f"list_min(list_transform(fps, f -> (f * {a} + {b}) % {HASH_MOD})) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, "
        + " || ',' || ".join(
            f"CAST(s{bi * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS key FROM sigs"
        for bi in range(MINHASH_BANDS)
    )
    jac = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.shingles, sb.shingles)))"
    )
    return f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                              i -> substr(text, i, {n}))) AS shingles
          FROM documents WHERE length(text) >= {n}
        ),
        fps AS (SELECT id, shingles,
                       list_transform(shingles, s -> {_sql_poly_hash('s')}) AS fps
                FROM sh),
        sigs AS (SELECT id, shingles, {slots} FROM fps),
        banded AS ({band_selects}),
        cross_hit AS (
          SELECT DISTINCT c.left_id AS id FROM (
            SELECT DISTINCT a.id AS left_id, b.id AS right_id
            FROM banded a JOIN banded b USING (band, key)
            WHERE a.id % 2 = 0 AND b.id % 2 = 1
          ) c
          JOIN sh sa ON sa.id = c.left_id
          JOIN sh sb ON sb.id = c.right_id
          WHERE {jac} >= {thr!r}
        ),
        surv AS (
          SELECT doc_id AS id FROM documents
          WHERE doc_id % 2 = 0
            AND doc_id NOT IN (SELECT id FROM cross_hit)
        ),
        self_pairs AS (
          SELECT c.id_a, c.id_b FROM (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b USING (band, key)
            WHERE a.id % 2 = 0 AND b.id % 2 = 0 AND a.id < b.id
              AND a.id IN (SELECT id FROM surv)
              AND b.id IN (SELECT id FROM surv)
          ) c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b
          WHERE {jac} >= {thr!r}
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM self_pairs
          UNION
          SELECT id_b, id_a FROM self_pairs
        ),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        dropped AS (
          SELECT src AS id FROM reach GROUP BY src
          HAVING LEAST(src, min(dst)) <> src
        )
        SELECT d.doc_id + {INGEST_ID_SHIFT} AS doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id % 2 = 0
          AND d.doc_id IN (SELECT id FROM surv)
          AND d.doc_id NOT IN (SELECT id FROM dropped)
    """


def _sql_embedding_ingest() -> str:
    """Full-chain replay of one embedding_neardup_ingest_batch over the
    parity split — the vector twin of :func:`_sql_neardup_ingest`: cross
    screen against the odd-id reference through the same seeded planes
    (left-assoc float64 dots, exact-cosine verify), survivor set, self
    pairs among survivors, recursive closure, min-id representatives."""
    from kaer_spark.operators.dedup import signlsh_planes

    thr = COSINE_DUP_THRESHOLD
    planes = signlsh_planes(
        len(QVEC), COSINE_LSH_BANDS * COSINE_LSH_BITS, COSINE_LSH_SEED
    )

    def band_key(vec: str, band: int) -> str:
        return _sql_signlsh_band_key(
            vec, planes[band * COSINE_LSH_BITS : (band + 1) * COSINE_LSH_BITS]
        )

    inv = "\n          UNION ALL ".join(
        f"SELECT vec_id AS id, {b} AS band, {band_key('embedding', b)} AS key FROM e"
        for b in range(COSINE_LSH_BANDS)
    )
    dot = _sql_dot_cols("ea.embedding", "eb.embedding")
    nrm = f"sqrt({_sql_dot_cols('embedding', 'embedding')})"
    cos = f"(CASE WHEN ea.nrm * eb.nrm <> 0.0 THEN ({dot}) / (ea.nrm * eb.nrm) END)"
    return f"""
        WITH RECURSIVE e AS (SELECT vec_id, embedding, {nrm} AS nrm
                             FROM embeddings),
        inv AS (
          {inv}
        ),
        cross_hit AS (
          SELECT DISTINCT c.left_id AS id FROM (
            SELECT DISTINCT a.id AS left_id, b.id AS right_id
            FROM inv a JOIN inv b ON a.band = b.band AND a.key = b.key
            WHERE a.id % 2 = 0 AND b.id % 2 = 1
          ) c
          JOIN e ea ON ea.vec_id = c.left_id
          JOIN e eb ON eb.vec_id = c.right_id
          WHERE {cos} >= {thr!r}
        ),
        surv AS (
          SELECT vec_id AS id FROM embeddings
          WHERE vec_id % 2 = 0
            AND vec_id NOT IN (SELECT id FROM cross_hit)
        ),
        self_pairs AS (
          SELECT c.id_a, c.id_b FROM (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM inv a JOIN inv b ON a.band = b.band AND a.key = b.key
            WHERE a.id % 2 = 0 AND b.id % 2 = 0 AND a.id < b.id
              AND a.id IN (SELECT id FROM surv)
              AND b.id IN (SELECT id FROM surv)
          ) c
          JOIN e ea ON ea.vec_id = c.id_a
          JOIN e eb ON eb.vec_id = c.id_b
          WHERE {cos} >= {thr!r}
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM self_pairs
          UNION
          SELECT id_b, id_a FROM self_pairs
        ),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        ),
        dropped AS (
          SELECT src AS id FROM reach GROUP BY src
          HAVING LEAST(src, min(dst)) <> src
        )
        SELECT v.vec_id + {INGEST_ID_SHIFT} AS vec_id, v.label
        FROM embeddings v
        WHERE v.vec_id % 2 = 0
          AND v.vec_id IN (SELECT id FROM surv)
          AND v.vec_id NOT IN (SELECT id FROM dropped)
    """


def _sql_ivf_index_stats() -> str:
    """Replay of index_store.ivf_index_stats over the det-fit full-corpus
    fixture: centroids = 8 smallest-id vectors, assignment = argmin
    (dist, j), residual = the assigned distance itself, quantiles by
    rank selection (no interpolation arithmetic — bit-exact)."""
    return f"""
        WITH c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                          embedding AS cvec
                   FROM (SELECT vec_id, embedding FROM embeddings
                         ORDER BY vec_id LIMIT 8)),
        cd AS (
          SELECT d.vec_id, c.j,
                 {_sql_l2sq_cols('d.embedding', 'c.cvec')} AS dist
          FROM embeddings d CROSS JOIN c
        ),
        a AS (
          SELECT vec_id, j, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
          FROM cd
        ),
        assigned AS (SELECT vec_id, j AS cell, dist AS resid FROM a WHERE rn = 1),
        ranked AS (
          SELECT cell, vec_id, resid,
                 row_number() OVER (PARTITION BY cell ORDER BY resid, vec_id) AS rn
          FROM assigned
        ),
        k AS (SELECT cell, count(*) AS n, max(resid) AS max_resid
              FROM assigned GROUP BY cell),
        t AS (SELECT sum(n) AS tot FROM k),
        p50 AS (SELECT r.cell, r.resid AS p50_resid
                FROM ranked r JOIN k ON k.cell = r.cell
                WHERE r.rn = (k.n + 1) // 2),
        p90 AS (SELECT r.cell, r.resid AS p90_resid
                FROM ranked r JOIN k ON k.cell = r.cell
                WHERE r.rn = (9 * k.n + 9) // 10)
        SELECT CAST(k.cell AS INTEGER) AS cell,
               CAST(k.n AS BIGINT) AS n_vectors,
               CAST(k.n AS DOUBLE) / t.tot AS size_frac,
               CAST(k.n * 8 AS DOUBLE) / t.tot AS skew,
               p50.p50_resid, p90.p90_resid, k.max_resid,
               (CAST(k.n * 8 AS DOUBLE) / t.tot) > 2.0 AS oversized,
               CAST((SELECT max(vec_id) FROM embeddings) AS BIGINT) AS watermark,
               CAST(0 AS BIGINT) AS watermark_lag
        FROM k CROSS JOIN t
        JOIN p50 ON p50.cell = k.cell
        JOIN p90 ON p90.cell = k.cell
    """


def _sql_pq_index_stats() -> str:
    """Replay of index_store.pq_index_stats over the det-fit no-cells
    fixture: codes re-derived from the corpus (the _sql_pq_knn_det encode
    CTEs), reconstruction error summed per subspace in the engine's fold
    order, quantiles by rank selection."""
    m, k = 8, 16
    d = len(QVEC) // m

    def slice_dist(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            for i in range(s * d + 1, s * d + d + 1)
        )

    cd = "\n          UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s, "
        f"{slice_dist('e.embedding', 'c.cvec', s)} AS dist"
        f" FROM embeddings e CROSS JOIN cb c"
        for s in range(m)
    )
    enc_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN cid END) AS c{s}" for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN cb a{s} ON a{s}.cid = enc.c{s}" for s in range(m)
    )
    err_expr = " + ".join(
        f"({slice_dist('e.embedding', f'a{s}.cvec', s)})" for s in range(m)
    )
    return f"""
        WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                           embedding AS cvec
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT {k})),
        cd AS (
          {cd}
        ),
        r AS (
          SELECT vec_id, s, cid,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
          FROM cd
        ),
        enc AS (SELECT vec_id, {enc_cols} FROM r WHERE rn = 1 GROUP BY vec_id),
        err AS (
          SELECT e.vec_id AS id, {err_expr} AS err
          FROM enc
          JOIN embeddings e ON e.vec_id = enc.vec_id
            {joins}
        ),
        ranked AS (
          SELECT id, err, row_number() OVER (ORDER BY err, id) AS rn FROM err
        ),
        kk AS (SELECT count(*) AS n, max(err) AS max_err FROM err)
        SELECT CAST(-1 AS INTEGER) AS cell,
               CAST(kk.n AS BIGINT) AS n_codes,
               (SELECT err FROM ranked WHERE rn = (kk.n + 1) // 2) AS p50_err,
               (SELECT err FROM ranked WHERE rn = (9 * kk.n + 9) // 10) AS p90_err,
               kk.max_err,
               CAST((SELECT max(vec_id) FROM embeddings) AS BIGINT) AS watermark,
               CAST(0 AS BIGINT) AS watermark_lag
        FROM kk
    """


def _sql_asof_forward() -> str:
    """Forward as-of: earliest signup at-or-after each click; among
    equal-ts signups the greatest event id wins (the engine's __r struct
    tie rule)."""
    return """
        WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts, event_type
                   FROM events),
        c AS (SELECT * FROM e WHERE event_type = 'click'),
        s AS (SELECT * FROM e WHERE event_type = 'signup'),
        j AS (
          SELECT c.event_id, c.user_id, s.event_id AS sev,
                 row_number() OVER (PARTITION BY c.event_id
                                    ORDER BY s.ts ASC, s.event_id DESC) AS rn
          FROM c LEFT JOIN s ON c.user_id = s.user_id AND s.ts >= c.ts
        )
        SELECT event_id, user_id, sev AS signup_event FROM j WHERE rn = 1
    """


def _sql_asof_nearest() -> str:
    """Nearest as-of: the closer of the backward/forward matches in
    integer nanos, ties to backward (pandas' convention); directional tie
    rules as in the directional oracles."""
    return """
        WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts, event_type
                   FROM events),
        c AS (SELECT * FROM e WHERE event_type = 'click'),
        s AS (SELECT * FROM e WHERE event_type = 'signup'),
        b0 AS (
          SELECT c.event_id, s.ts AS bts, s.event_id AS bev,
                 row_number() OVER (PARTITION BY c.event_id
                                    ORDER BY s.ts DESC, s.event_id DESC) AS rn
          FROM c JOIN s ON c.user_id = s.user_id AND s.ts <= c.ts
        ),
        f0 AS (
          SELECT c.event_id, s.ts AS fts, s.event_id AS fev,
                 row_number() OVER (PARTITION BY c.event_id
                                    ORDER BY s.ts ASC, s.event_id DESC) AS rn
          FROM c JOIN s ON c.user_id = s.user_id AND s.ts >= c.ts
        )
        SELECT c.event_id, c.user_id,
               CASE WHEN b.bev IS NULL THEN f.fev
                    WHEN f.fev IS NULL OR (c.ts - b.bts) <= (f.fts - c.ts)
                         THEN b.bev
                    ELSE f.fev END AS signup_event
        FROM c
        LEFT JOIN (SELECT * FROM b0 WHERE rn = 1) b USING (event_id)
        LEFT JOIN (SELECT * FROM f0 WHERE rn = 1) f USING (event_id)
    """


def _sql_training_mix_tokens() -> str:
    """Chained replay of pipelines.token_budget_pipeline: temperature
    rates (SQL-rederived) → bucket filter per lang → the token-budget
    cumsum (whitespace token counts this time) → the packing cumsum →
    pack stats — each stage the independently-verified oracle of its
    operator."""
    return f"""
        WITH {_sql_temperature_rates_cte()},
        mix AS (
          SELECT d.doc_id, d.source, {_SQL_NTOK} AS tok
          FROM documents d JOIN tr_r USING (lang)
          WHERE {_sql_lcg_hk('d.doc_id')} % 1000 < tr_r.rate
        ),
        {_sql_token_budget_kept('mix')},
        pt AS (
          SELECT doc_id, tok,
                 ((doc_id % {TOKEN_BUDGET_SHARDS} + {TOKEN_BUDGET_SHARDS})
                  % {TOKEN_BUDGET_SHARDS}) AS shard
          FROM tb_kept
        ),
        pc AS (
          SELECT doc_id, tok, shard,
                 COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
          FROM pt
        )
        SELECT shard, CAST(excl // {TB_PIPE_MAX_TOKENS} AS BIGINT) AS pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS sum_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM pc GROUP BY 1, 2
    """


def _sql_semdedup(cells: int = 8, threshold: float = 0.35) -> str:
    """Full relational replay of dedup.semdedup(keep='far'): spread-fit
    centroids (hash-ordered LIMIT, same pmod arithmetic), argmin cell
    assignment by (dist, j) rank, within-cell pairwise cosine ≥ threshold,
    recursive-CTE closure, and the keep-farthest-from-centroid choice as a
    rank over (dist DESC, id)."""
    from kaer_spark.operators.similarity import _SPREAD_A, _SPREAD_B, _SPREAD_P

    hkey = (
        f"(((vec_id * {_SPREAD_A} + {_SPREAD_B}) % {_SPREAD_P})"
        f" + {_SPREAD_P}) % {_SPREAD_P}"
    )
    cos = (
        f"(CASE WHEN (x.nrm * y.nrm) <> 0.0 THEN"
        f" ({_sql_dot_cols('x.embedding', 'y.embedding')}) / (x.nrm * y.nrm) END)"
    )
    return f"""
        WITH RECURSIVE c AS (
          SELECT row_number() OVER (ORDER BY {hkey}, vec_id) - 1 AS j,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY {hkey}, vec_id LIMIT {cells})
        ),
        cd AS (
          SELECT e.vec_id, c.j,
                 {_sql_l2sq_cols('e.embedding', 'c.cvec')} AS dist
          FROM embeddings e CROSS JOIN c
        ),
        asg AS (
          SELECT vec_id, j AS cell FROM (
            SELECT vec_id, j,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, j) AS rn
            FROM cd) WHERE rn = 1
        ),
        v AS (
          SELECT e.vec_id, e.embedding, a.cell,
                 sqrt({_sql_dot_cols('e.embedding', 'e.embedding')}) AS nrm
          FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
        ),
        p AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE {cos} >= {threshold!r}
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p
        ),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        clusters AS (
          SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        ),
        sc AS (
          SELECT a.vec_id, cd.dist FROM asg a
          JOIN cd ON cd.vec_id = a.vec_id AND cd.j = a.cell
        ),
        m AS (
          SELECT cl.cluster_id, cl.id, sc.dist
          FROM clusters cl JOIN sc ON sc.vec_id = cl.id
        ),
        kept AS (
          SELECT cluster_id, id AS kept_id FROM (
            SELECT cluster_id, id,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY dist DESC, id) AS rn
            FROM m) WHERE rn = 1
        )
        SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, cl.cluster_id,
               (cl.cluster_id IS NULL OR a.vec_id = k.kept_id) AS keep
        FROM asg a
        LEFT JOIN clusters cl ON cl.id = a.vec_id
        LEFT JOIN kept k ON k.cluster_id = cl.cluster_id
    """


def _sql_image_near_dups(max_hamming: int) -> str:
    """Replay of multimodal.image_near_dups over the fake media blobs:
    the 9×8 nearest-neighbor resample re-derives each pixel by hex
    slicing (media_resize's proven byte-index formula, value-parsed via
    strpos on the hex alphabet), dHash bits from adjacent-pixel
    comparisons, bit_count(xor) hamming — integer arithmetic end to end.
    The engine's pigeonhole banding (max_hamming + 1 bands) is COMPLETE
    at the threshold, so the oracle states the definition directly:
    all pairs with hamming ≤ max_hamming, no band CTE to replay."""
    hexd = "'0123456789ABCDEF'"
    return f"""
        WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
        b AS (
          SELECT doc_id,
                 CASE WHEN octet_length(blob) = 0 THEN '00' ELSE hex(blob) END AS hx,
                 CASE WHEN octet_length(blob) = 0 THEN 1 ELSE octet_length(blob) END AS n
          FROM d
        ),
        px AS (
          SELECT doc_id, i,
                 (strpos({hexd}, substr(hx, 2 * ((i * n) // 72) + 1, 1)) - 1) * 16
                 + (strpos({hexd}, substr(hx, 2 * ((i * n) // 72) + 2, 1)) - 1) AS v
          FROM b, generate_series(0, 71) AS t(i)
        ),
        bits AS (
          SELECT a.doc_id, (a.i // 9) AS r,
                 CASE WHEN a.v < p2.v
                      THEN CAST(1 AS BIGINT) << (a.i % 9) ELSE 0 END AS bit
          FROM px a JOIN px p2 ON p2.doc_id = a.doc_id AND p2.i = a.i + 1
          WHERE a.i % 9 < 8
        ),
        sig AS (
          SELECT doc_id, r, CAST(SUM(bit) AS BIGINT) AS byte
          FROM bits GROUP BY doc_id, r
        ),
        ham AS (
          SELECT sx.doc_id AS id_a, sy.doc_id AS id_b,
                 SUM(bit_count(xor(sx.byte, sy.byte))) AS hamming
          FROM sig sx
          JOIN sig sy ON sy.doc_id > sx.doc_id AND sy.r = sx.r
          GROUP BY sx.doc_id, sy.doc_id
        )
        SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        FROM ham WHERE hamming <= {int(max_hamming)}
    """


def _sql_winnow_overlap(
    k: int = 16, w: int = 8, min_shared: int = 5, between: bool = False
) -> str:
    """Replay of dedup.winnow_overlap_pairs: codepoint k-gram paired-
    moduli fingerprints as FLAT power-basis sums (every intermediate
    < 2^56, so plain bigint arithmetic replays Spark's incremental-mod
    fold exactly), rightmost-min-per-window selection via a (h ASC,
    p DESC) rank over the exploded (window, position) grid, then the
    distinct-fingerprint pair join. Short docs (< window hashes) form
    one truncated window — the engine's greatest(…, 1) convention."""
    from kaer_spark.operators.dedup import (
        HASH_BASE,
        HASH_BASE2,
        HASH_MOD,
        HASH_MOD2,
    )

    if between:
        final = f"""SELECT a.id AS left_id, b.id AS right_id,
               count(*) AS n_shared
        FROM sel a JOIN sel b USING (fp)
        WHERE a.id % 2 = 0 AND b.id % 2 = 1
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}"""
    else:
        final = f"""SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
        FROM sel a JOIN sel b USING (fp)
        WHERE a.id < b.id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}"""
    return f"""
        WITH {_sql_winnow_sel_ctes(k, w)},
        sel AS (SELECT DISTINCT id, h AS fp FROM rk WHERE rn = 1)
        {final}
    """


def _sql_winnow_sel_ctes(k: int, w: int, extra_where: str = "") -> str:
    """The shared winnow-selection CTE chain (codes → hash grid → window
    grid → rightmost-min rank) up to ``rk`` — one replay body feeds the
    overlap oracles AND the [r17] winnow-index stats oracle, so the two
    can never select differently."""
    from kaer_spark.operators.dedup import (
        HASH_BASE,
        HASH_BASE2,
        HASH_MOD,
        HASH_MOD2,
    )

    pw1 = [pow(HASH_BASE, k - 1 - j, HASH_MOD) for j in range(k)]
    pw2 = [pow(HASH_BASE2, k - 1 - j, HASH_MOD2) for j in range(k)]
    h1 = " + ".join(f"codes[CAST(i + {j} AS INT)] * {pw1[j]}" for j in range(k))
    h2 = " + ".join(f"codes[CAST(i + {j} AS INT)] * {pw2[j]}" for j in range(k))
    fp = f"(({h1}) % {HASH_MOD}) * {HASH_MOD2} + (({h2}) % {HASH_MOD2})"
    return f"""cd AS (
          SELECT doc_id AS id,
                 list_transform(range(1, length(text) + 1),
                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
                   AS codes,
                 length(text) - {k} + 1 AS nh
          FROM documents WHERE length(text) >= {k} {extra_where}
        ),
        hs AS (
          SELECT id, nh, unnest(range(1, nh + 1)) AS p,
                 unnest(list_transform(range(1, nh + 1), i -> {fp})) AS h
          FROM cd
        ),
        js AS (
          SELECT id, unnest(range(1, greatest(nh - {w} + 1, 1) + 1)) AS j
          FROM cd
        ),
        wp AS (
          SELECT hs.id, js.j, hs.p, hs.h
          FROM hs JOIN js ON js.id = hs.id
          WHERE hs.p >= js.j AND hs.p <= js.j + {w} - 1
        ),
        rk AS (
          SELECT id, j, p, h,
                 row_number() OVER (PARTITION BY id, j
                                    ORDER BY h ASC, p DESC) AS rn
          FROM wp
        )"""


def _sql_winnow_index_stats(k: int = 16, w: int = 8) -> str:
    """[r17] Replay of dedup.winnow_index_stats over the odd-id reference
    corpus: the shared selection CTEs re-derive the stored (id, pos0, fp)
    rows from raw text, then every aggregate — per-fingerprint posting
    histogram with type-1 rank quantiles, per-doc selection spread,
    geometry echo, watermark + lag — is plain SQL arithmetic."""
    return f"""
        WITH {_sql_winnow_sel_ctes(k, w, "AND doc_id % 2 = 1")},
        sel AS (
          SELECT DISTINCT id, p - 1 AS pos0, h AS fp FROM rk WHERE rn = 1
        ),
        bt AS (SELECT fp, count(*) AS bc FROM sel GROUP BY fp),
        bk AS (
          SELECT count(*) AS nfp, sum(bc) AS nrows, max(bc) AS mx FROM bt
        ),
        rb AS (SELECT bc, row_number() OVER (ORDER BY bc, fp) AS rn FROM bt),
        sz AS (SELECT id, count(*) AS s FROM sel GROUP BY id),
        sk AS (SELECT count(*) AS nd, max(s) AS mxs FROM sz),
        rs AS (SELECT s, row_number() OVER (ORDER BY s, id) AS rn FROM sz)
        SELECT CAST(sk.nd AS BIGINT) AS n_docs,
               CAST(bk.nrows AS BIGINT) AS n_fp_rows,
               CAST(bk.nfp AS BIGINT) AS n_distinct_fps,
               CAST(bk.mx AS BIGINT) AS max_bucket,
               CAST(bk.mx * bk.nfp AS DOUBLE) / CAST(bk.nrows AS BIGINT)
                 AS bucket_skew,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (bk.nfp + 1) // 2) AS p50_bucket_sz,
               (SELECT CAST(bc AS BIGINT) FROM rb
                WHERE rn = (9 * bk.nfp + 9) // 10) AS p90_bucket_sz,
               (SELECT CAST(s AS BIGINT) FROM rs
                WHERE rn = (sk.nd + 1) // 2) AS p50_doc_fps,
               (SELECT CAST(s AS BIGINT) FROM rs
                WHERE rn = (9 * sk.nd + 9) // 10) AS p90_doc_fps,
               CAST(sk.mxs AS BIGINT) AS max_doc_fps,
               CAST({k} AS BIGINT) AS k,
               CAST({w} AS BIGINT) AS "window",
               CAST((SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark,
               CAST((SELECT max(doc_id) FROM documents)
                    - (SELECT max(doc_id) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS watermark_lag
        FROM bk, sk
    """


def _sql_passage_windows() -> str:
    """Shared windows CTE for the passage-dedup oracle family: every
    24-char window's CONTENT with its 1-based start position. The engine
    flags by a ~60-bit paired-moduli fingerprint and then verifies
    flagged windows by exact content (always, since r10), so
    the oracle keys on the content itself — definitionally the verified
    semantics, with no hash replay to drift."""
    return """
            w AS (
              SELECT doc_id AS id,
                     unnest(range(1, length(text) - 24 + 2)) AS s,
                     unnest(list_transform(range(1, length(text) - 24 + 2),
                       i -> substr(text, CAST(i AS INT), 24))) AS wstr
              FROM documents WHERE length(text) >= 24
            )"""


def _sql_excise_tail(doc_where: str = "") -> str:
    """Shared span-merge + rebuild oracle tail over a CTE named
    ``fl(id, s, e)``: gaps-and-islands merge, LAG-delimited kept gaps,
    string_agg rebuild plus the tail substring. ``doc_where`` filters the
    final documents scan (e.g. the even-id left corpus)."""
    return f"""
            isl AS (
              SELECT id, s, e,
                     CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY id
                            ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -1) + 1
                          THEN 1 ELSE 0 END AS ni
              FROM fl
            ),
            isl2 AS (
              SELECT id, s, e,
                     SUM(ni) OVER (PARTITION BY id ORDER BY s) AS island
              FROM isl
            ),
            sp AS (
              SELECT id, island, min(s) AS s, max(e) AS e
              FROM isl2 GROUP BY id, island
            ),
            g AS (
              SELECT id, s, e,
                     coalesce(LAG(e) OVER (PARTITION BY id ORDER BY s), 0) + 1 AS gs
              FROM sp
            ),
            reb AS (
              SELECT g.id,
                     coalesce(string_agg(
                       substr(d.text, CAST(g.gs AS INT), CAST(g.s - g.gs AS INT)),
                       '' ORDER BY g.s), '')
                       || substr(d.text, CAST(max(g.e) + 1 AS INT)) AS text_clean,
                     count(*) AS n_spans,
                     sum(g.e - g.s + 1) AS n_chars_removed
              FROM g JOIN documents d ON d.doc_id = g.id
              GROUP BY g.id, d.text
            )
            SELECT d.doc_id,
                   coalesce(r.text_clean, d.text) AS text_clean,
                   CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(r.n_chars_removed, 0) AS BIGINT) AS n_chars_removed
            FROM documents d LEFT JOIN reb r ON r.id = d.doc_id{doc_where}"""


def _sql_line_ctes() -> str:
    """Shared CTE chain for line-level boilerplate removal over the
    space-separated fixture corpus (remove_duplicate_lines and the
    cleaned-pipeline twin): posexplode ≡ zipped unnest, doc-frequency per
    line, kept lines rebuilt ordered by original position."""
    return f"""
            l AS (
              SELECT doc_id AS id,
                     unnest(string_split(text, ' ')) AS ln,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
              FROM documents
            ),
            nz AS (SELECT * FROM l WHERE length(trim(ln)) > 0),
            freq AS (SELECT ln, count(DISTINCT id) AS df FROM nz GROUP BY ln),
            kept_lines AS (
              SELECT nz.id, nz.pos, nz.ln FROM nz
              JOIN freq ON freq.ln = nz.ln
              WHERE freq.df < {LINE_DEDUP_MIN_DOCS}
            ),
            rebuilt AS (
              SELECT id, string_agg(ln, ' ' ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM kept_lines GROUP BY id
            )"""


def _sql_corpus_stats_tail(src: str) -> str:
    """Shared enrich → filter → exact-dedup → per-language stats oracle
    body over any ``(doc_id, text)`` relation (training_corpus_stats and
    its boilerplate-cleaned twin share every constant)."""
    return f"""
            enriched AS (
              SELECT doc_id,
                     {_sql_lang_guess()} AS lang_guess,
                     {_sql_quality_parts()[2]} AS quality,
                     CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT)
                         AS n_tokens,
                     {_sql_poly_hash('text')} AS fp
              FROM {src}
            ),
            kept AS (
              SELECT * FROM enriched WHERE quality >= 0.5 AND n_tokens >= 10
            ),
            dedup AS (
              SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              FROM kept
            )
            SELECT lang_guess, count(*) AS n_docs,
                   -- DuckDB sum(BIGINT) widens to HUGEINT; Spark's stays BIGINT
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(quality) AS min_quality, max(quality) AS max_quality
            FROM dedup WHERE rn = 1 GROUP BY lang_guess"""


def oracle_sql() -> dict[str, str]:
    out = {
        # -- round-7 oracles for the round-6 operator surface --
        "token_budget_mix": _sql_token_budget_mix(),
        "temperature_mix": _sql_temperature_mix(),
        "bigram_lm_scores": _sql_bigram_lm(pretrained=False),
        "bigram_lm_pretrained": _sql_bigram_lm(pretrained=True),
        "ivf_knn_join": _sql_ivf_knn_join("l2sq"),
        "ivf_knn_join_filtered": _sql_ivf_knn_join_filtered(),
        "contrastive_triplets_mine": _sql_contrastive_triplets_mine(),
        "ivf_knn_join_cosine": _sql_ivf_knn_join("cosine"),
        "dedup_minhash_between": _sql_minhash_between(),
        # r17: same replay for both — the indexed path is value-identical
        # to the from-text cross call by construction
        "jaccard_between": _sql_jaccard_between(),
        "jaccard_against_indexed": _sql_jaccard_between(),
        "containment_between": _sql_containment_between(),
        "containment_against_indexed": _sql_containment_between(),
        # r17: the winnow family's gates — the catch-up serve replays as
        # the SAME cross-corpus overlap as winnow_between (refresh ≡
        # rebuild), the stats replay re-derives the artifact from text
        "winnow_index_catchup": _sql_winnow_overlap(
            min_shared=3, between=True
        ),
        "winnow_index_stats": _sql_winnow_index_stats(),
        "dedup_against": _sql_minhash_between(survivors=True),
        # served from the at-rest reference artifact: identical values by
        # construction, so the oracle IS the from-text replay
        "dedup_against_indexed": _sql_minhash_between(survivors=True),
        # catch-up fixture (prefix build + refresh): the oracle replays the
        # from-scratch pipeline over the union, so refresh ≡ rebuild is
        # value-checked end to end
        "minhash_index_catchup": _sql_minhash_between(threshold=MH_CATCHUP_THRESHOLD),
        "shingle_index_catchup": _sql_jaccard_pairs(threshold=SHINGLE_CATCHUP_THRESHOLD),
        "streaming_neardup_ingest": _sql_neardup_ingest(),
        "streaming_embedding_ingest": _sql_embedding_ingest(),
        "ivf_index_stats": _sql_ivf_index_stats(),
        "minhash_index_stats": _sql_minhash_index_stats(),
        "signlsh_index_stats": _sql_signlsh_index_stats(),
        "fuzzy_index_catchup": _sql_fuzzy_index_catchup(),
        "fuzzy_index_stats": _sql_fuzzy_index_stats(),
        "pq_index_stats": _sql_pq_index_stats(),
        "shingle_index_stats": _sql_shingle_index_stats(),
        "text_index_stats": _sql_text_index_stats(),
        "signlsh_index_catchup": _sql_embedding_dups_between(threshold=SL_CATCHUP_THRESHOLD),
        "embedding_dups_between": _sql_embedding_dups_between(),
        # served from the at-rest reference artifact: identical values by
        # construction, so the oracle IS the from-vectors replay
        "embedding_dups_against_indexed": _sql_embedding_dups_between(),
        "asof_forward": _sql_asof_forward(),
        "asof_nearest": _sql_asof_nearest(),
        "training_mix_tokens": _sql_training_mix_tokens(),
        "dsir_scores": _sql_dsir_scores(),
        "perplexity_buckets": _sql_perplexity_buckets(),
        # window fps = PAIRED poly-hash folds over each 24-char slice
        # packed as h1 * MOD2 + h2 (~60 bits, the r10 collision-safety
        # widening); DuckDB's list_reduce seeds with the first element,
        # which equals the (0*B + c1) first step for BOTH bases (same
        # identity doc_fingerprint relies on)
        "duplicate_passages": f"""
            WITH w AS (
              SELECT doc_id AS id,
                     unnest(list_transform(range(1, length(text) - 24 + 2),
                       i -> list_reduce(list_transform(range(i, i + 24),
                              j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
                              (a, x) -> (a * {PB} + x) % {PM})
                            * {PM2}
                            + list_reduce(list_transform(range(i, i + 24),
                              j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
                              (a, x) -> (a * {PB2} + x) % {PM2}))) AS fp
              FROM documents WHERE length(text) >= 24
            )
            SELECT fp, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   min(id) AS rep_doc
            FROM w GROUP BY fp HAVING count(DISTINCT id) >= 2
        """,
        # hash-order quota: same single-level replay as domain_quota, the
        # rank key being the engine's LCG hash instead of the raw id
        "domain_quota_hash": f"""
            WITH r AS (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY {_sql_lcg_hk('doc_id')}, doc_id) AS rn
              FROM documents
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM r WHERE rn <= {QUOTA_PER_SOURCE} GROUP BY source
        """,
        # separator overhead rides the cumsum (n_tokens + 2); sum_tokens
        # still reports the documents' own counts
        "pack_overhead": f"""
            WITH t AS (
              SELECT doc_id,
                     ((doc_id % {PACK_SHARDS} + {PACK_SHARDS}) % {PACK_SHARDS}) AS shard,
                     {_SQL_NTOK} AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, shard, n_tokens,
                     COALESCE(SUM(n_tokens + 2) OVER (PARTITION BY shard
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM t
            )
            SELECT shard, CAST(excl // {PACK_MAX_TOKENS} AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY 1, 2
        """,
        # serpentine deal over the global (n_tokens DESC, doc_id) order:
        # row_number is the rank the engine computes two-phase
        "shard_manifest": f"""
            WITH t AS (SELECT doc_id, {_SQL_NTOK} AS n_tokens FROM documents),
            r AS (
              SELECT doc_id, n_tokens,
                     CAST(row_number() OVER (
                       ORDER BY n_tokens DESC, doc_id) - 1 AS BIGINT) AS rk
              FROM t
            ),
            s AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN (rk // {SHARD_MANIFEST_SHARDS}) % 2 = 0
                          THEN rk % {SHARD_MANIFEST_SHARDS}
                          ELSE {SHARD_MANIFEST_SHARDS - 1} - (rk % {SHARD_MANIFEST_SHARDS})
                     END AS shard
              FROM r
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM s GROUP BY 1
        """,
        # backward as-of with a staleness cut: the latest match is the only
        # candidate that could be within tolerance (it has the max ts <= t),
        # so rank-then-nullify replays the engine's within_tol exactly
        "asof_tolerance": """
            WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts, event_type
                       FROM events),
            c AS (SELECT * FROM e WHERE event_type = 'click'),
            s AS (SELECT * FROM e WHERE event_type = 'signup'),
            j AS (
              SELECT c.event_id, c.user_id, c.ts AS cts,
                     s.ts AS sts, s.event_id AS sev,
                     row_number() OVER (PARTITION BY c.event_id
                                        ORDER BY s.ts DESC, s.event_id DESC) AS rn
              FROM c LEFT JOIN s ON c.user_id = s.user_id AND s.ts <= c.ts
            )
            SELECT event_id, user_id,
                   CASE WHEN sts IS NOT NULL AND sts >= cts - 3600000000000
                        THEN sev END AS signup_event
            FROM j WHERE rn = 1
        """,
        "knn_topk": _sql_knn(None, 10),
        "knn_filtered_eq": _sql_knn(KNN_FILTER_EQ, 5),
        "knn_filtered_and": _sql_knn(KNN_FILTER_AND, 5),
        "knn_empty_filter": _sql_knn({"n_chars": {"$gt": 10**9}}, 5),
        "knn_dot": f"""
            SELECT d.doc_id, d.lang, {_sql_dot_lit('e.embedding', QVEC)} AS dot
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            ORDER BY dot DESC, d.doc_id ASC
            LIMIT 10
        """,
        "knn_cosine": f"""
            SELECT d.doc_id, d.lang, {_sql_cosine_lit('e.embedding', QVEC)} AS cosine
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            ORDER BY cosine DESC, d.doc_id ASC
            LIMIT 10
        """,
        "knn_join": f"""
            WITH q AS (SELECT vec_id, embedding FROM embeddings
                       ORDER BY vec_id LIMIT 5),
            scored AS (
              SELECT q.vec_id AS query_id, d.doc_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_l2sq_cols('d.embedding', 'q.embedding')}, d.doc_id
                     ) AS rank
              FROM q CROSS JOIN (
                SELECT dd.doc_id, e.embedding
                FROM documents dd JOIN embeddings e ON dd.doc_id = e.vec_id
              ) d
            )
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
            FROM scored WHERE rank <= 5
        """,
        "max_id": "SELECT max(doc_id) AS max_id FROM documents",
        "dense_ids": """
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS assigned_id
            FROM documents
        """,
        "dedup_exact": """
            SELECT text, min(doc_id) AS rep_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "sq_knn": _sql_sq_knn(),
        "dedup_ngram_jaccard": _sql_jaccard_pairs(),
        # served-from-artifact twin: identical values by construction, so
        # the oracle IS the from-text replay (build/serve drift = mismatch)
        "dedup_ngram_jaccard_indexed": _sql_jaccard_pairs(),
        "ngram_containment_indexed": _sql_containment_pairs(0.8),
        "ngram_containment": _sql_containment_pairs(0.8),
        "dedup_embedding_cosine": _sql_embedding_dups(),
        "simhash": _sql_simhash(),
        "doc_fingerprint": f"SELECT doc_id, {_sql_poly_hash('text')} AS fp FROM documents",
        "text_stats": _sql_text_stats(),
        "lang_id_counts": _sql_lang_id_counts(),
        "top_tokens": """
            SELECT token, count(*) AS n FROM (
              SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''
            ) GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
        """,
        "quality_filter": f"""
            SELECT doc_id, lang, {_sql_quality_parts()[2]} AS quality
            FROM documents
            WHERE {_sql_quality_parts()[2]} >= 0.8 AND n_chars >= 100
        """,
        "bpe_token_count": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT)
                       AS n_bpe_tokens
            FROM documents
        """,
        "training_corpus_stats": f"""
            WITH {_sql_corpus_stats_tail('documents')}
        """,
        # same pipeline with the CCNet line-dedup stage prepended: quality,
        # tokens, and fingerprints all computed over the CLEANED text
        "training_corpus_clean_stats": f"""
            WITH {_sql_line_ctes()},
            cleaned AS (
              SELECT d.doc_id, coalesce(r.text_clean, '') AS text
              FROM documents d LEFT JOIN rebuilt r ON r.id = d.doc_id
            ),
            {_sql_corpus_stats_tail('cleaned')}
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
              GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q8": """
            WITH cust_asia AS (
              SELECT c_custkey
              FROM customer, nation, region
              WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
            )
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
                                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
                                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS mkt_share
            FROM lineitem
            JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cust_asia ON o_custkey = c_custkey
            WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
            GROUP BY 1 ORDER BY 1
        """,
        "tpch_q2": """
            WITH supp_asia AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
            ), cost AS (
              SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
                     min(CAST(l_extendedprice AS DECIMAL(18,2))) AS supp_cost
              FROM lineitem JOIN supp_asia ON l_suppkey = s_suppkey
              GROUP BY 1, 2, 3, 4, 5
            ), best AS (
              SELECT *, min(supp_cost) OVER (PARTITION BY l_partkey) AS min_cost
              FROM cost
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
                   CAST(supp_cost AS DOUBLE) AS supp_cost
            FROM best JOIN part ON l_partkey = p_partkey
            WHERE supp_cost = min_cost
              AND (p_size = 15 OR p_type = 'LARGE')
            ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
            LIMIT 100
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
            ORDER BY nation ASC, o_year DESC
        """,
        "tpch_q11": """
            WITH nat_items AS (
              SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_3'
            ), per_part AS (
              SELECT l_partkey, sum(price) AS value_dec
              FROM nat_items GROUP BY l_partkey
            ), total AS (
              SELECT sum(price) AS total_dec FROM nat_items
            )
            SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
            FROM per_part, total
            WHERE value_dec * 10000 > total_dec
            ORDER BY value DESC, l_partkey ASC
        """,
        "tpch_q12": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
        """,
        "tpch_q20": """
            WITH heavy AS (
              SELECT DISTINCT l_suppkey
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_brand IN ('Brand#2', 'Brand#3')
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_partkey, l_suppkey
              HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 40
            )
            SELECT s_suppkey, s_name, s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
              AND s_suppkey IN (SELECT l_suppkey FROM heavy)
            ORDER BY s_name
        """,
        "tpch_q21": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                          THEN 1 ELSE 0 END AS is_late
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
            ), per_order AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
                         AS n_late_supp
              FROM lo GROUP BY l_orderkey
            ), waiting AS (
              SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
              FROM lo JOIN per_order USING (l_orderkey)
              WHERE lo.is_late = 1 AND n_supp > 1 AND n_late_supp = 1
            )
            SELECT s_name, count(*) AS numwait
            FROM waiting JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 100
        """,
        "tpch_q17": """
            WITH pruned AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#1' AND p_size < 15
            ), stats AS (
              SELECT l_quantity, l_extendedprice,
                     sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
                     count(*) OVER (PARTITION BY l_partkey) AS cnt_qty
              FROM pruned
            )
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / 7.0
                       AS avg_yearly
            FROM stats
            WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_qty < sum_qty
        """,
        "tpch_q15": """
            WITH per_supp AS (
              SELECT l_suppkey,
                     CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                         AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            ),
            ranked AS (
              SELECT *, rank() OVER (ORDER BY total_revenue DESC) AS rk
              FROM per_supp
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM ranked JOIN supplier ON l_suppkey = s_suppkey
            WHERE rk = 1
        """,
        "tpch_q22": """
            WITH thr AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                         AS avg_bal
              FROM customer WHERE c_acctbal > 0.0
            )
            SELECT c_mktsegment, count(*) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
            FROM customer, thr
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1998-01-01'
              )
            GROUP BY c_mktsegment
        """,
        "tpch_q18": """
            WITH big AS (
              SELECT l_orderkey,
                     sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
              FROM lineitem
              GROUP BY l_orderkey
              HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   CAST(sum_qty_dec AS DOUBLE) AS total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
            LIMIT 100
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "tpch_q14": """
            WITH agg AS (
              SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
                                   ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS promo_rev,
                     CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS total_rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-09-01'
                AND l_shipdate < TIMESTAMP '1996-10-01'
            )
            SELECT promo_rev, total_rev, 100.0 * promo_rev / total_rev AS promo_pct
            FROM agg
        """,
        "tpch_q19": """
            SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q6": """
            SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n.n_name,
                   CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "top_customers": """
            SELECT c.c_custkey, c.c_name,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
                   count(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_name
            ORDER BY total_spent DESC, c.c_custkey ASC
            LIMIT 10
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   CAST(row_number() OVER w AS BIGINT) AS order_rank,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS running_spent
            FROM orders
            WHERE o_custkey < 20
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "events_json": """
            SELECT event_type, count(*) AS n,
                   CAST(COALESCE(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k,
                   CAST(COALESCE(max(CAST(json_extract_string(props, '$.k') AS BIGINT)), -1) AS BIGINT) AS max_k
            FROM events GROUP BY event_type
        """,
        "pii_redaction": """
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           text || ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com or +1555'
                                || lpad(CAST(doc_id AS VARCHAR), 7, '0')
                                || ' see https://ex.com/doc/' || CAST(doc_id AS VARCHAR),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         'https?://[^\\s]+', '<URL>', 'g'),
                       '\\+?\\d[\\d() .-]{7,}\\d', '<PHONE>', 'g'),
                     '\\s+', ' ', 'g')) AS clean_text
            FROM documents
        """,
        "doc_chunks": """
            WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN length(text) > 0
                          THEN greatest(CAST(ceil(greatest(length(text) - 50, 0)
                                                  / CAST(150 AS DOUBLE)) AS BIGINT), 1)
                          ELSE 0 END AS n
              FROM documents
            ),
            sp AS (SELECT doc_id, text, unnest(range(0, n)) AS k FROM base)
            SELECT doc_id,
                   k AS chunk_idx,
                   k * 150 + 1 AS chunk_start,
                   substr(text, CAST(k * 150 + 1 AS INT), 200) AS chunk_text
            FROM sp
        """,
        # two-level dealing replay (pipelines.stratified_split sub_strata=32):
        # rank within (lang, doc_id % 32), re-base by cumulative counts of
        # earlier subs, deal the composed rank round-robin
        "stratified_split": """
            WITH s AS (SELECT lang, doc_id, ((doc_id % 32 + 32) % 32) AS sub FROM documents),
            r AS (
              SELECT lang, doc_id, sub,
                     row_number() OVER (PARTITION BY lang, sub ORDER BY doc_id)
                         AS subrank
              FROM s
            ),
            c AS (SELECT lang, sub, count(*) AS cnt FROM s GROUP BY 1, 2),
            o AS (
              SELECT lang, sub,
                     COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY sub
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ofs
              FROM c
            ),
            dealt AS (
              SELECT r.lang, r.doc_id, (o.ofs + r.subrank - 1) % 10 AS slot
              FROM r JOIN o ON r.lang = o.lang AND r.sub = o.sub
            )
            SELECT lang,
                   CASE WHEN slot < 8 THEN 'train'
                        WHEN slot < 9 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id
            FROM dealt GROUP BY 1, 2
        """,
        # repetition metrics: independent algorithms (gaps-and-islands for the
        # run length, GROUP BY for the bigram mode) replaying the same final
        # int/int divisions as the Spark array folds — bit-exact doubles.
        "repetition_profile": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
              FROM documents
            ),
            ex AS (
              SELECT doc_id, unnest(ws) AS wd, unnest(range(1, len(ws) + 1)) AS i
              FROM w
            ),
            isl AS (
              SELECT doc_id, wd, i,
                     i - row_number() OVER (PARTITION BY doc_id, wd ORDER BY i) AS grp
              FROM ex
            ),
            runs AS (
              SELECT doc_id, max(cnt) AS max_run FROM (
                SELECT doc_id, count(*) AS cnt FROM isl GROUP BY doc_id, wd, grp
              ) GROUP BY doc_id
            ),
            bg AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 2
                          THEN list_transform(range(1, len(ws)),
                                              i -> ws[i] || ' ' || ws[i + 1])
                          ELSE [] END AS gs
              FROM w
            ),
            bcnt AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id, unnest(gs) AS g FROM bg) GROUP BY doc_id, g
            ),
            tbf AS (
              SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS tbf
              FROM bcnt GROUP BY doc_id
            )
            SELECT w.doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CASE WHEN len(ws) > 0
                        THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                   END AS distinct_word_ratio,
                   CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_word_run,
                   t.tbf AS top_bigram_fraction
            FROM w LEFT JOIN runs r USING (doc_id) LEFT JOIN tbf t USING (doc_id)
        """,
        # eval-side overlap: same gram construction, sides flipped; the
        # fraction is exact integer counting over distinct per-doc grams
        "overlap_fraction": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
              FROM documents
            ),
            sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(ws) >= 3
                     THEN list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                     ELSE [] END) AS grams
              FROM w
            ),
            tg AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 97 <> 0),
            ev AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                    FROM ev GROUP BY doc_id),
            hit AS (SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_overlapping
                    FROM ev JOIN tg USING (g) GROUP BY ev.doc_id)
            SELECT d.doc_id,
                   COALESCE(tot.n_grams, 0) AS n_grams,
                   COALESCE(hit.n_overlapping, 0) AS n_overlapping,
                   CAST(COALESCE(hit.n_overlapping, 0) AS DOUBLE)
                     / CAST(tot.n_grams AS DOUBLE) AS overlap_frac
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d
            LEFT JOIN tot ON tot.doc_id = d.doc_id
            LEFT JOIN hit ON hit.doc_id = d.doc_id
        """,
        "phrase_search_indexed": """
            WITH w AS (
              SELECT doc_id,
                     list_transform(
                       CASE WHEN trim(text) = '' THEN []
                            ELSE regexp_split_to_array(trim(text), '\\s+') END,
                       t -> lower(t)) AS ws
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                     CAST(len(list_filter(range(1, len(ws)),
                       i -> ws[i] = 'fast' AND ws[i + 1] = 'table'))
                       AS BIGINT) AS n_occurrences
              FROM w WHERE len(ws) >= 2
            )
            SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
        """,
        "ngram_novelty": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
              FROM documents
            ),
            sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(ws) >= 3
                     THEN list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                     ELSE [] END) AS grams
              FROM w
            ),
            g AS (SELECT doc_id, unnest(grams) AS g FROM sh),
            dfq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g),
            per AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_unique
              FROM g JOIN dfq USING (g) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.n_grams, 0) AS n_grams,
                   COALESCE(per.n_unique, 0) AS n_unique,
                   CAST(per.n_unique AS DOUBLE)
                     / CAST(per.n_grams AS DOUBLE) AS novelty
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN per ON per.doc_id = d.doc_id
        """,
        "near_search_indexed": f"""
            WITH w AS (
              SELECT doc_id,
                     list_transform(
                       CASE WHEN trim(text) = '' THEN []
                            ELSE regexp_split_to_array(trim(text), '\\s+') END,
                       t -> lower(t)) AS ws
              FROM documents
            ),
            p AS (
              SELECT doc_id,
                     list_filter(range(1, len(ws) + 1), i -> ws[i] = 'fast')
                       AS p0,
                     list_filter(range(1, len(ws) + 1), i -> ws[i] = 'table')
                       AS p1
              FROM w
            ),
            c AS (
              SELECT doc_id,
                     CAST(len(list_filter(p0, pp ->
                       len(list_filter(p1,
                         x -> x > pp AND x <= pp + {1 + NEAR_SLOP})) > 0))
                       AS BIGINT) AS n_matches
              FROM p
            )
            SELECT doc_id, n_matches FROM c WHERE n_matches > 0
        """,
        "pmi_bigrams": f"""
            WITH w AS (
              SELECT CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END
                       AS ws
              FROM documents
            ),
            g AS (
              SELECT unnest(list_transform(range(1, len(ws)),
                       i -> struct_pack(w := ws[i], v := ws[i + 1]))) AS p
              FROM w WHERE len(ws) >= 2
            ),
            pair AS (SELECT p.w AS w, p.v AS v,
                            CAST(count(*) AS BIGINT) AS c
                     FROM g GROUP BY p.w, p.v),
            l AS (SELECT w, CAST(sum(c) AS BIGINT) AS cl FROM pair GROUP BY w),
            r AS (SELECT v, CAST(sum(c) AS BIGINT) AS cr FROM pair GROUP BY v),
            t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pair)
            SELECT pair.w, pair.v, pair.c AS n_pair,
                   CAST(pair.c * t.n AS DOUBLE)
                     / CAST(l.cl * r.cr AS DOUBLE) AS lift
            FROM pair, t
            JOIN l ON l.w = pair.w
            JOIN r ON r.v = pair.v
            WHERE pair.c >= {PMI_MIN_COUNT}
            ORDER BY lift DESC, pair.w ASC, pair.v ASC
            LIMIT {PMI_TOP_N}
        """,
        "exemplars_by_lang": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY (doc_id * 2654435761 + 40503)
                                  % 1000000007 ASC,
                                doc_id ASC) AS rk
              FROM documents
            ) WHERE rk <= 3
        """,
        "pps_sample_chars": f"""
            WITH w AS (
              SELECT doc_id, source, n_chars,
                     CAST(sum(n_chars) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS HUGEINT) AS ci
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            tot AS (
              SELECT CAST(sum(n_chars) AS HUGEINT) AS W
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, source, n_chars
            FROM w, tot
            WHERE (ci * {PPS_K}) // W > ((ci - n_chars) * {PPS_K}) // W
        """,
        "hard_negatives": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings ORDER BY vec_id LIMIT {HN_K}
            ),
            ex(query_id, doc_id) AS (
              VALUES {", ".join(f"({q}, {q + o})" for q in range(HN_K)
                                for o in HN_EXCLUDE_OFFSETS)}
            ),
            scored AS (
              SELECT q.query_id, c.vec_id AS doc_id,
                     CASE WHEN sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                               * sqrt({_sql_dot_cols('q.qv', 'q.qv')}) <> 0.0
                          THEN ({_sql_dot_cols('c.embedding', 'q.qv')})
                               / (sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                                  * sqrt({_sql_dot_cols('q.qv', 'q.qv')}))
                     END AS score
              FROM q CROSS JOIN embeddings c
              WHERE c.vec_id <> q.query_id
            ),
            filt AS (
              SELECT s.* FROM scored s
              WHERE s.score < {HN_CEILING}
                AND NOT EXISTS (SELECT 1 FROM ex
                                WHERE ex.query_id = s.query_id
                                  AND ex.doc_id = s.doc_id)
            ),
            r AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS rk
              FROM filt
            )
            SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
            FROM r WHERE rk <= {HN_K}
        """,
        "ivf_hard_negatives": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings ORDER BY vec_id LIMIT {IVF_HN_K}
            ),
            ex(query_id, doc_id) AS (
              VALUES {", ".join(f"({q}, {q + o})" for q in range(IVF_HN_K)
                                for o in IVF_HN_OFFSETS)}
            ),
            scored AS (
              SELECT q.query_id, c.vec_id AS doc_id,
                     CASE WHEN sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                               * sqrt({_sql_dot_cols('q.qv', 'q.qv')}) <> 0.0
                          THEN ({_sql_dot_cols('c.embedding', 'q.qv')})
                               / (sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                                  * sqrt({_sql_dot_cols('q.qv', 'q.qv')}))
                     END AS score
              FROM q CROSS JOIN embeddings c
              WHERE c.vec_id <> q.query_id
            ),
            filt AS (
              SELECT s.* FROM scored s
              WHERE s.score < {HN_CEILING}
                AND NOT EXISTS (SELECT 1 FROM ex
                                WHERE ex.query_id = s.query_id
                                  AND ex.doc_id = s.doc_id)
            ),
            r AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS rk
              FROM filt
            )
            SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
            FROM r WHERE rk <= {IVF_HN_K}
        """,
        "ivf_hard_negatives_filtered": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings ORDER BY vec_id LIMIT {IVFHF_K}
            ),
            ex(query_id, doc_id) AS (
              VALUES {", ".join(f"({q}, {q + o})" for q in range(IVFHF_K)
                                for o in IVFHF_OFFSETS)}
            ),
            scored AS (
              SELECT q.query_id, c.vec_id AS doc_id,
                     CASE WHEN sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                               * sqrt({_sql_dot_cols('q.qv', 'q.qv')}) <> 0.0
                          THEN ({_sql_dot_cols('c.embedding', 'q.qv')})
                               / (sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                                  * sqrt({_sql_dot_cols('q.qv', 'q.qv')}))
                     END AS score
              FROM q CROSS JOIN embeddings c
              WHERE c.vec_id <> q.query_id
                AND c.vec_id % {IVFHF_MOD} <> 0
            ),
            filt AS (
              SELECT s.* FROM scored s
              WHERE s.score < {HN_CEILING}
                AND NOT EXISTS (SELECT 1 FROM ex
                                WHERE ex.query_id = s.query_id
                                  AND ex.doc_id = s.doc_id)
            ),
            r AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS rk
              FROM filt
            )
            SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
            FROM r WHERE rk <= {IVFHF_K}
        """,
        "contrastive_triplets": f"""
            WITH RECURSIVE lsh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_embedding_dups()}) p
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM lsh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM lsh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            co AS (
              SELECT a.id AS qa, b.id AS qb
              FROM clusters a JOIN clusters b
                ON a.cluster_id = b.cluster_id AND a.id <> b.id
            ),
            pos AS (
              SELECT qa AS anchor_id, min(qb) AS positive_id
              FROM co GROUP BY qa
            ),
            scored AS (
              SELECT m.id AS anchor_id, c.vec_id AS doc_id,
                     CASE WHEN sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                               * sqrt({_sql_dot_cols('q.embedding', 'q.embedding')}) <> 0.0
                          THEN ({_sql_dot_cols('c.embedding', 'q.embedding')})
                               / (sqrt({_sql_dot_cols('c.embedding', 'c.embedding')})
                                  * sqrt({_sql_dot_cols('q.embedding', 'q.embedding')}))
                     END AS score
              FROM (SELECT DISTINCT id FROM clusters) m
              JOIN embeddings q ON q.vec_id = m.id
              CROSS JOIN embeddings c
              WHERE c.vec_id <> m.id
                AND NOT EXISTS (SELECT 1 FROM co
                                WHERE co.qa = m.id AND co.qb = c.vec_id)
            ),
            r AS (
              SELECT anchor_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY anchor_id ORDER BY score DESC, doc_id ASC
                     ) AS rk
              FROM scored
            )
            SELECT r.anchor_id, p.positive_id, r.doc_id AS vec_id, r.score,
                   CAST(r.rk AS BIGINT) AS rank
            FROM r JOIN pos p ON p.anchor_id = r.anchor_id
            WHERE r.rk <= {CT_K_NEG}
        """,
        "quantiles_sampled": f"""
            WITH s AS (
              SELECT n_chars AS v, doc_id AS id
              FROM documents WHERE n_chars IS NOT NULL
              ORDER BY (doc_id * 2654435761 + 40503) % 1000000007 ASC,
                       doc_id ASC
              LIMIT {SQ_SAMPLE_K}
            ),
            r AS (
              SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS r,
                     count(*) OVER () AS n
              FROM s
            )
            SELECT t.p, r.v AS q
            FROM r, (VALUES {", ".join(f"({p})" for p in SQ_PROBS)}) t(p)
            WHERE r.r = CAST(floor((r.n - 1) * t.p + 0.5) AS BIGINT)
            ORDER BY t.p
        """,
        "pps_sample_by_lang": f"""
            WITH w AS (
              SELECT doc_id, lang, n_chars,
                     CAST(sum(n_chars) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS HUGEINT) AS ci,
                     CAST(sum(n_chars) OVER (PARTITION BY lang)
                          AS HUGEINT) AS wg
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, lang, n_chars
            FROM w
            WHERE (ci * {PPS_K_PER_LANG}) // wg
                  > ((ci - n_chars) * {PPS_K_PER_LANG}) // wg
        """,
        "event_coverage": f"""
            WITH iv AS (
              SELECT user_id, epoch_ns(ts) AS s,
                     epoch_ns(ts) + {1_800_000_000_000} AS e
              FROM events
            ),
            flagged AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER (
                              PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) IS NULL
                            OR s > max(e) OVER (
                              PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS new_island
              FROM iv
            ),
            isl AS (
              SELECT user_id, s, e,
                     sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
              FROM flagged
            ),
            merged AS (
              SELECT user_id, island, min(s) AS island_start,
                     max(e) AS island_end
              FROM isl GROUP BY user_id, island
            ),
            gaps AS (
              SELECT user_id, island_start, island_end,
                     island_start - lag(island_end) OVER (
                       PARTITION BY user_id ORDER BY island_start) AS gap
              FROM merged
            )
            SELECT user_id,
                   CAST(sum(island_end - island_start) AS BIGINT) AS covered,
                   CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(max(gap) AS BIGINT) AS max_gap
            FROM gaps GROUP BY user_id
        """,
        "bloom_decontam": _sql_bloom_decontam(),
        "cdc_stats": _sql_cdc_stats(),
        "cms_token_counts": _sql_cms_token_counts(),
        "hll_tokens": _sql_hll(
            "SELECT unnest(CASE WHEN trim(text) = '' THEN [] "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END) AS v "
            "FROM documents"
        ),
        "hll_orderkeys": _sql_hll(
            "SELECT CAST(l_orderkey AS VARCHAR) AS v FROM lineitem"
        ),
        # merge-of-batches ≡ sketch-of-union (exact), so the stream-built
        # state replays as the plain batch sketch regardless of batching
        "streaming_hll_tokens": _sql_hll(
            "SELECT unnest(CASE WHEN trim(text) = '' THEN [] "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END) AS v "
            "FROM documents"
        ),
        "hll_merge_parity": _sql_hll(
            "SELECT unnest(CASE WHEN trim(text) = '' THEN [] "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END) AS v "
            "FROM documents"
        ),
        "hll_tokens_by_lang": _sql_hll(
            "SELECT lang, unnest(CASE WHEN trim(text) = '' THEN [] "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END) AS v "
            "FROM documents",
            group_cols=["lang"],
        ),
        "contamination_report": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
              FROM documents
            ),
            sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(ws) >= 3
                     THEN list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                     ELSE [] END) AS grams
              FROM w
            ),
            te AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0),
            tr AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 97 <> 0)
            SELECT tr.doc_id, count(*) AS hits
            FROM tr JOIN te USING (g)
            GROUP BY tr.doc_id
        """,
        # chained-min formulation of the greedy strict-order funnel — provably
        # the same anchoring as the Spark single-pass fold (operators.funnel)
        "funnel_steps": """
            WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_type FROM events),
            s1 AS (SELECT user_id, min(t) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
                   WHERE event_type = 'click'
                     AND t > t1 AND t <= t1 + 86400000000000 GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase'
                     AND t > t2 AND t <= t2 + 86400000000000 GROUP BY e.user_id)
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 'view',     (SELECT CAST(count(*) AS BIGINT) FROM s1)),
              (CAST(2 AS BIGINT), 'click',    (SELECT CAST(count(*) AS BIGINT) FROM s2)),
              (CAST(3 AS BIGINT), 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3))
            ) AS v(step_idx, step_name, users)
        """,
        "corpus_profile": """
            SELECT lang,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nulls,
                   min(n_chars) AS min_val,
                   max(n_chars) AS max_val,
                   CAST(quantile_cont(n_chars, 0.25) AS DOUBLE) AS p25,
                   CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50,
                   CAST(quantile_cont(n_chars, 0.9) AS DOUBLE) AS p90,
                   CAST(sum(CAST(n_chars AS DECIMAL(28,2))) AS DOUBLE) / count(*)
                       AS mean_val
            FROM documents GROUP BY lang
        """,
        "time_bucket_rollup": """
            SELECT (epoch_ns(ts) // 900000000000) * 900 AS bucket_epoch,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_hourly": """
            SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "streaming_events_hourly": """
            SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH gaps AS (
              SELECT user_id, event_id, ts,
                     epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ),
            sess AS (
              SELECT user_id,
                     sum(CASE WHEN gap IS NULL OR gap > 1800000000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM gaps
            )
            SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM sess GROUP BY user_id
        """,
        "set_ops": """
            SELECT custkey FROM (
              SELECT custkey FROM (
                SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                INTERSECT
                SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
              )
              UNION
              SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
            )
            EXCEPT
            SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "distinct_agg": """
            SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        "anti_join_empty_orders": """
            SELECT o_orderstatus, count(*) AS n_empty_orders
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
            GROUP BY o_orderstatus
        """,
        "semi_join_returned": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "range_join_clicks": """
            SELECT l.event_id, l.user_id, count(r.ts) AS n_clicks_10m
            FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') l
            LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id
             AND epoch_ns(r.ts) >= epoch_ns(l.ts) - 600000000000
             AND epoch_ns(r.ts) < epoch_ns(l.ts)
            GROUP BY l.event_id, l.user_id
        """,
        "pivot_agg": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_linestatus = 'O'
                            THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
                   CAST(sum(CASE WHEN l_linestatus = 'F'
                            THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_filled
            FROM lineitem GROUP BY l_returnflag
        """,
        "asof_signup": """
            WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts, event_type
                       FROM events)
            SELECT c.event_id, c.user_id, s.event_id AS signup_event
            FROM (SELECT * FROM e WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'signup') s
              ON c.user_id = s.user_id AND c.ts >= s.ts
        """,
        "dedup_minhash": _sql_minhash(),
        "dedup_cluster_assign": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src
        """,
        # clustering audit over the same recursive closure; mean in exact
        # DECIMAL so the double matches bit-for-bit
        "dedup_cluster_stats": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            sizes AS (
              SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
                   CAST(sum(sz) - count(*) AS BIGINT) AS n_duplicates,
                   CAST(max(sz) AS BIGINT) AS max_size,
                   (SELECT cluster_id FROM sizes
                    ORDER BY sz DESC, cluster_id LIMIT 1) AS largest_cluster,
                   CAST(CAST(sum(CAST(sz AS DECIMAL(28,2))) AS DOUBLE)
                        / count(*) AS DOUBLE) AS mean_size
            FROM sizes
        """,
        # the cold BUILD row measures the same chain end-to-end — the
        # oracle replay is identical to dedup_cluster_stats by construction
        "dedup_cluster_build": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            sizes AS (
              SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
                   CAST(sum(sz) - count(*) AS BIGINT) AS n_duplicates,
                   CAST(max(sz) AS BIGINT) AS max_size,
                   (SELECT cluster_id FROM sizes
                    ORDER BY sz DESC, cluster_id LIMIT 1) AS largest_cluster,
                   CAST(CAST(sum(CAST(sz AS DECIMAL(28,2))) AS DOUBLE)
                        / count(*) AS DOUBLE) AS mean_size
            FROM sizes
        """,
        "cluster_split": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            )
            SELECT d.doc_id,
                   CASE WHEN (((COALESCE(c.cluster_id, d.doc_id)
                                * 2654435761 + 40503) % 1000000007
                               + 1000000007) % 1000000007) % 1000
                             < {CS_TEST_PERMILLE}
                        THEN 'test' ELSE 'train' END AS split
            FROM documents d
            LEFT JOIN clusters c ON c.id = d.doc_id
        """,
        "split_leakage": f"""
            WITH p AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            )
            SELECT p.id_a, p.id_b,
                   CASE WHEN p.id_a % 2 = 0 THEN 'train' ELSE 'test' END
                     AS split_a,
                   CASE WHEN p.id_b % 2 = 0 THEN 'train' ELSE 'test' END
                     AS split_b
            FROM p
            WHERE (p.id_a % 2) <> (p.id_b % 2)
        """,
        # quality-aware keep-best: same recursive closure as
        # dedup_cluster_assign, then the representative is the rank-1 row
        # over (n_chars DESC, id) — the engine's min_by((-score, id))
        "dedup_keep_best_reps": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            m AS (
              SELECT c.cluster_id, c.id, d.n_chars
              FROM clusters c JOIN documents d ON d.doc_id = c.id
            ),
            r AS (
              SELECT cluster_id, id,
                     row_number() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, id) AS rn,
                     count(*) OVER (PARTITION BY cluster_id) AS sz
              FROM m
            )
            SELECT cluster_id, id AS kept_id, CAST(sz AS BIGINT) AS sz
            FROM r WHERE rn = 1
        """,
        # corpus filter: drop every clustered doc that is not its
        # cluster's keep-best representative
        "dedup_keep_best": f"""
            WITH RECURSIVE mh_pairs AS (
              SELECT id_a, id_b FROM ({_sql_minhash()}) mh
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE id_a <> id_b
              UNION
              SELECT id_b, id_a FROM mh_pairs WHERE id_a <> id_b
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            clusters AS (
              SELECT src AS id, LEAST(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            m AS (
              SELECT c.cluster_id, c.id, d.n_chars
              FROM clusters c JOIN documents d ON d.doc_id = c.id
            ),
            r AS (
              SELECT cluster_id, id,
                     row_number() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, id) AS rn
              FROM m
            ),
            losers AS (SELECT id FROM r WHERE rn > 1)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT id FROM losers)
        """,
        # line-level boilerplate removal: posexplode ≡ zipped unnest with
        # generate_subscripts; the rebuild is string_agg ordered by the
        # original token position
        # intra-doc repetition: rank each (doc, line)'s occurrences by
        # position; occurrences >= min_repeats keep only rank 1
        "remove_repeated_lines": """
            WITH l AS (
              SELECT doc_id AS id,
                     unnest(string_split(text, ' ')) AS ln,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
              FROM documents
            ),
            nz AS (SELECT * FROM l WHERE length(trim(ln)) > 0),
            marked AS (
              SELECT id, pos, ln,
                     row_number() OVER (PARTITION BY id, ln ORDER BY pos) AS rn,
                     count(*) OVER (PARTITION BY id, ln) AS occ
              FROM nz
            ),
            rebuilt AS (
              SELECT id,
                     string_agg(CASE WHEN rn = 1 OR occ < 3 THEN ln END,
                                ' ' ORDER BY pos) AS text_clean,
                     count(*) AS n_lines,
                     sum(CASE WHEN rn = 1 OR occ < 3 THEN 1 ELSE 0 END)
                         AS n_kept
              FROM marked GROUP BY id
            )
            SELECT d.doc_id,
                   coalesce(r.text_clean, '') AS text_clean,
                   CAST(coalesce(r.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d LEFT JOIN rebuilt r ON r.id = d.doc_id
        """,
        "remove_duplicate_lines": f"""
            WITH {_sql_line_ctes()},
            counts AS (SELECT id, count(*) AS n_lines FROM nz GROUP BY id)
            SELECT d.doc_id,
                   coalesce(r.text_clean, '') AS text_clean,
                   CAST(coalesce(c.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d
            LEFT JOIN counts c ON c.id = d.doc_id
            LEFT JOIN rebuilt r ON r.id = d.doc_id
        """,
        # passage removal: content-keyed (the engine verifies flagged
        # windows by exact content before excision), flagged
        # spans merge via gaps-and-islands, and the rebuild concatenates
        # the surviving gaps (LAG(e) marks each gap's start) plus the tail
        "remove_duplicate_passages": f"""
            WITH {_sql_passage_windows()},
            dup AS (
              SELECT wstr FROM w GROUP BY wstr HAVING count(DISTINCT id) >= 2
            ),
            fl AS (
              SELECT w.id, w.s, w.s + 23 AS e
              FROM w JOIN dup ON dup.wstr = w.wstr
            ),
            {_sql_excise_tail()}
        """,
        # cross-corpus passage contamination report: even-id docs probed
        # against the odd-id corpus's distinct window CONTENTS (engine
        # verifies fingerprint hits exactly)
        "passage_overlap_between": f"""
            WITH {_sql_passage_windows()},
            lw AS (SELECT id, s, wstr FROM w WHERE id % 2 = 0),
            rf AS (SELECT DISTINCT wstr FROM w WHERE id % 2 = 1),
            tot AS (SELECT id, count(*) AS n_windows FROM lw GROUP BY id),
            fl AS (
              SELECT lw.id, count(*) AS n_flagged
              FROM lw JOIN rf ON rf.wstr = lw.wstr GROUP BY lw.id
            )
            SELECT t.id AS doc_id,
                   CAST(t.n_windows AS BIGINT) AS n_windows,
                   CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
                   CAST(coalesce(f.n_flagged, 0) AS DOUBLE) / t.n_windows
                       AS flagged_fraction
            FROM tot t LEFT JOIN fl f ON f.id = t.id
        """,
        # passage-level decontamination transform: spans of even-id docs
        # whose window contents exist verbatim in the odd-id corpus are
        # excised (content-keyed, matching the engine's verified path)
        "remove_passages_against": f"""
            WITH {_sql_passage_windows()},
            rf AS (SELECT DISTINCT wstr FROM w WHERE id % 2 = 1),
            fl AS (
              SELECT w.id, w.s, w.s + 23 AS e
              FROM w JOIN rf ON rf.wstr = w.wstr WHERE w.id % 2 = 0
            ),
            {_sql_excise_tail(" WHERE d.doc_id % 2 = 0")}
        """,
        "semdedup": _sql_semdedup(cells=8, threshold=COSINE_DUP_THRESHOLD),
        # OOV of even-id docs against the odd-id corpus vocabulary; token
        # definition shared with token_count/top_tokens, lowercased on
        # both sides (build_vocab's normalization — r10 advice fix)
        "oov_stats": """
            WITH tk AS (
              SELECT doc_id AS id,
                     lower(unnest(CASE WHEN trim(text) = '' THEN []
                            ELSE regexp_split_to_array(trim(text), '\\s+')
                            END)) AS tok
              FROM documents
            ),
            voc AS (SELECT DISTINCT tok FROM tk WHERE id % 2 = 1),
            ev AS (SELECT * FROM tk WHERE id % 2 = 0),
            tot AS (SELECT id, count(*) AS n_tokens FROM ev GROUP BY id),
            inv AS (
              SELECT ev.id, count(*) AS n_in
              FROM ev JOIN voc ON voc.tok = ev.tok GROUP BY ev.id
            )
            SELECT d.doc_id,
                   CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(t.n_tokens, 0) - coalesce(i.n_in, 0) AS BIGINT)
                       AS n_oov,
                   CASE WHEN coalesce(t.n_tokens, 0) > 0
                        THEN CAST(coalesce(t.n_tokens, 0) - coalesce(i.n_in, 0)
                                  AS DOUBLE) / t.n_tokens END AS oov_fraction
            FROM documents d
            LEFT JOIN tot t ON t.id = d.doc_id
            LEFT JOIN inv i ON i.id = d.doc_id
            WHERE d.doc_id % 2 = 0
        """,
        # per-source datasheet: same enrichment constants as the corpus
        # pipeline; distinct counts as two-level pre-aggregates
        "corpus_datasheet": f"""
            WITH enriched AS (
              SELECT source AS grp, doc_id,
                     {_sql_lang_guess()} AS lang_guess,
                     {_sql_quality_parts()[2]} AS q,
                     CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT) AS ntok,
                     CAST(length(text) AS BIGINT) AS nchars,
                     {_sql_poly_hash('text')} AS fp
              FROM documents
            ),
            main AS (
              SELECT grp, count(*) AS n_docs, sum(ntok) AS total_tokens,
                     sum(nchars) AS total_chars,
                     CAST(sum(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                         AS mean_quality
              FROM enriched GROUP BY grp
            ),
            langs AS (
              SELECT grp, count(*) AS n_langs
              FROM (SELECT DISTINCT grp, lang_guess FROM enriched)
              GROUP BY grp
            ),
            uniq AS (
              SELECT grp, count(*) AS n_unique
              FROM (SELECT grp, fp FROM enriched GROUP BY grp, fp)
              GROUP BY grp
            )
            SELECT m.grp AS source,
                   CAST(m.n_docs AS BIGINT) AS n_docs,
                   CAST(m.total_tokens AS BIGINT) AS total_tokens,
                   CAST(m.total_chars AS BIGINT) AS total_chars,
                   m.mean_quality,
                   CAST(l.n_langs AS BIGINT) AS n_langs,
                   CAST(u.n_unique AS BIGINT) AS n_unique,
                   CAST(m.n_docs - u.n_unique AS DOUBLE) / m.n_docs AS dup_rate
            FROM main m
            JOIN langs l ON l.grp = m.grp
            JOIN uniq u ON u.grp = m.grp
        """,
        # frequency vocab induction: deterministic (count DESC, token)
        # cut, DECIMAL cumulative coverage, one double division
        "vocab_coverage": """
            WITH tk AS (
              SELECT doc_id,
                     unnest(CASE WHEN trim(text) = '' THEN []
                            ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents
            ),
            c AS (SELECT tok, count(*) AS n_occurrences FROM tk GROUP BY tok),
            d AS (
              SELECT tok, count(*) AS n_docs
              FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok
            ),
            tot AS (SELECT sum(n_occurrences) AS t FROM c),
            top AS (
              SELECT c.tok, c.n_occurrences, d.n_docs
              FROM c JOIN d ON d.tok = c.tok
              ORDER BY c.n_occurrences DESC, c.tok LIMIT 20
            )
            SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, tok)
                        AS BIGINT) AS rank,
                   tok AS token,
                   CAST(n_occurrences AS BIGINT) AS n_occurrences,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(n_occurrences AS DECIMAL(28,2))) OVER (
                          ORDER BY n_occurrences DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                     / (SELECT CAST(t AS DOUBLE) FROM tot) AS coverage
            FROM top
        """,
        # greedy longest-match subword segmentation replayed with a
        # recursive CTE: per distinct word, `steps` holds the longest
        # vocab piece matching at each position; the recursion advances
        # by max(step, 1), counting units and UNK chars — the same
        # WordPiece rule the engine folds with a linear aggregate
        "bpe_merges": _sql_bpe_merges(BPE_MERGES),
        "bpe_learned_tokens": _sql_bpe_token_counts(BPE_MERGES),
        "embedding_gram": _sql_embedding_gram(len(QVEC)),
        "minhash_recall": _sql_minhash_recall(),
        "embedding_drift": _sql_embedding_drift(len(QVEC)),
        "token_divergence": _sql_token_divergence(),
        "fuzzy_near_dups": _sql_fuzzy_near_dups(),
        "winnow_overlap": _sql_winnow_overlap(),
        "fuzzy_dups_between": _sql_fuzzy_dups_between(),
        "winnow_between": _sql_winnow_overlap(min_shared=3, between=True),
        "zipf_profile": _sql_zipf_profile(),
        "mmr_rerank": _sql_mmr_rerank(),
        "subword_budget": """
            WITH RECURSIVE tk AS (
              SELECT doc_id,
                     unnest(CASE WHEN trim(text) = '' THEN []
                            ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents
            ),
            c AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
            top AS (SELECT tok FROM c ORDER BY n DESC, tok LIMIT 20),
            vocab AS (
              SELECT tok AS piece FROM top
              UNION
              SELECT chr(CAST(i AS INTEGER)) FROM (SELECT unnest(generate_series(97, 122)) AS i)
              UNION
              SELECT chr(CAST(i AS INTEGER)) FROM (SELECT unnest(generate_series(48, 57)) AS i)
            ),
            uw AS (SELECT DISTINCT tok AS word FROM tk WHERE length(tok) > 0),
            wp AS (
              SELECT word, unnest(generate_series(0, length(word) - 1)) AS p
              FROM uw
            ),
            steps AS (
              SELECT w.word, w.p, max(length(v.piece)) AS step
              FROM wp w
              JOIN vocab v ON length(v.piece) <= length(w.word) - w.p
                          AND substr(w.word, w.p + 1, length(v.piece)) = v.piece
              GROUP BY w.word, w.p
            ),
            seg AS (
              SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS n,
                     CAST(0 AS BIGINT) AS unk
              FROM uw
              UNION ALL
              SELECT s.word,
                     s.pos + greatest(coalesce(st.step, 0), 1),
                     s.n + 1,
                     s.unk + CASE WHEN coalesce(st.step, 0) = 0 THEN 1 ELSE 0 END
              FROM seg s LEFT JOIN steps st
                ON st.word = s.word AND st.p = s.pos
              WHERE s.pos < length(s.word)
            ),
            fin AS (SELECT word, n, unk FROM seg WHERE pos >= length(word)),
            agg AS (
              SELECT t.doc_id, count(*) AS n_words, sum(f.n) AS n_subwords,
                     sum(f.unk) AS n_unk_chars
              FROM tk t JOIN fin f ON f.word = t.tok
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
                   CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords,
                   CAST(coalesce(a.n_unk_chars, 0) AS BIGINT) AS n_unk_chars
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "multimodal_features": _sql_multimodal(),
        "bm25_scores": _sql_bm25(),
        # RRF fusion of the BM25 top-20 and the l2sq-to-QVEC top-20:
        # rrf = 1/(60+r1) + 1/(60+r2), absent side an exact +0.0
        "hybrid_search": f"""
            WITH scores AS ({_sql_bm25()}),
            t AS (
              SELECT doc_id AS id,
                     row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r1
              FROM scores ORDER BY bm25 DESC, doc_id LIMIT 20
            ),
            v AS (
              SELECT vec_id AS id,
                     row_number() OVER (
                       ORDER BY {_sql_l2sq_lit('embedding', QVEC)}, vec_id
                     ) AS r2
              FROM embeddings
              ORDER BY {_sql_l2sq_lit('embedding', QVEC)}, vec_id LIMIT 20
            ),
            f AS (
              SELECT coalesce(t.id, v.id) AS id, t.r1, v.r2
              FROM t FULL OUTER JOIN v ON t.id = v.id
            )
            SELECT id AS doc_id,
                   (coalesce(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)
                    + coalesce(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0)) AS rrf,
                   CAST(r1 AS BIGINT) AS rank_0,
                   CAST(r2 AS BIGINT) AS rank_1
            FROM f ORDER BY rrf DESC, id LIMIT 10
        """,
        # indexed hybrid: same RRF arithmetic as hybrid_search, lexical
        # pool restricted to docs holding >= 1 query term (the index
        # never reads the rest) — the same cand CTE as text_index_search
        "hybrid_search_indexed": f"""
            WITH scores AS ({_sql_bm25()}),
            cand AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id,
                       unnest(CASE WHEN trim(text) = '' THEN []
                              ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                              END) AS tok
                FROM documents
              ) WHERE tok IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
            ),
            t AS (
              SELECT s.doc_id AS id,
                     row_number() OVER (ORDER BY s.bm25 DESC, s.doc_id) AS r1
              FROM scores s JOIN cand c ON c.doc_id = s.doc_id
              ORDER BY s.bm25 DESC, s.doc_id LIMIT 20
            ),
            v AS (
              SELECT vec_id AS id,
                     row_number() OVER (
                       ORDER BY {_sql_l2sq_lit('embedding', QVEC)}, vec_id
                     ) AS r2
              FROM embeddings
              ORDER BY {_sql_l2sq_lit('embedding', QVEC)}, vec_id LIMIT 20
            ),
            f AS (
              SELECT coalesce(t.id, v.id) AS id, t.r1, v.r2
              FROM t FULL OUTER JOIN v ON t.id = v.id
            )
            SELECT id AS doc_id,
                   (coalesce(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)
                    + coalesce(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0)) AS rrf,
                   CAST(r1 AS BIGINT) AS rank_0,
                   CAST(r2 AS BIGINT) AS rank_1
            FROM f ORDER BY rrf DESC, id LIMIT 10
        """,
        # index-path BM25 ≡ scan-path BM25 restricted to docs holding at
        # least one query term (absent terms contribute exact +0.0), so
        # the oracle never models the index — just the ranking
        "text_index_search": f"""
            WITH scores AS ({_sql_bm25()}),
            cand AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id,
                       unnest(CASE WHEN trim(text) = '' THEN []
                              ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                              END) AS tok
                FROM documents
              ) WHERE tok IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
            )
            SELECT s.doc_id, s.bm25 FROM scores s
            JOIN cand c ON c.doc_id = s.doc_id
            ORDER BY s.bm25 DESC, s.doc_id ASC LIMIT 10
        """,
        "hash_sample": f"""
            SELECT doc_id, source,
                   (((doc_id * 2654435761 + 40503) % 1000000007 + 1000000007) % 1000000007) % 1000 AS bucket
            FROM documents
            WHERE (((doc_id * 2654435761 + 40503) % 1000000007 + 1000000007) % 1000000007) % 1000
                  < {SAMPLE_RATE_PERMILLE}
        """,
        # single-level replay of the two-level quota cap (result-equivalent
        # by construction — the pre-cap only bounds the exchange)
        "domain_quota": f"""
            WITH r AS (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM r WHERE rn <= {QUOTA_PER_SOURCE} GROUP BY source
        """,
        # deterministic IVF, fully relational replay: centroids = vec_id<8
        # rows, assignment re-derived by (dist, j) rank, probe cells ranked
        # by literal-query distance — every float the same IEEE tree.
        # Centroids are RANK-limited (the 8 smallest-id rows, labeled by
        # rank) exactly like the engine's orderBy(id).limit(cells) +
        # positional enumerate — no dense-from-0 id assumption.
        "ivf_knn_det": f"""
            WITH c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                              embedding AS cvec
                       FROM (SELECT vec_id, embedding FROM embeddings
                             ORDER BY vec_id LIMIT 8)),
            cd AS (
              SELECT d.vec_id, c.j,
                     {_sql_l2sq_cols('d.embedding', 'c.cvec')} AS dist
              FROM embeddings d CROSS JOIN c
            ),
            a AS (
              SELECT vec_id, j,
                     row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
              FROM cd
            ),
            assigned AS (SELECT vec_id, j AS cell FROM a WHERE rn = 1),
            p AS (
              SELECT j, row_number() OVER (
                ORDER BY {_sql_l2sq_lit('cvec', QVEC)}, j) AS pr
              FROM c
            )
            SELECT e.vec_id, CAST(assigned.cell AS INTEGER) AS cell,
                   {_sql_l2sq_lit('e.embedding', QVEC)} AS l2sq
            FROM embeddings e
            JOIN assigned ON assigned.vec_id = e.vec_id
            JOIN p ON p.j = assigned.cell
            WHERE p.pr <= 3
            ORDER BY l2sq ASC, e.vec_id ASC
            LIMIT 10
        """,
        "lsh_knn_det": _sql_lsh_knn_det(),
        "pq_knn_det": _sql_pq_knn_det(),
        "pq_knn_refined": _sql_pq_knn_refined(),
        "pq_knn_filtered": _sql_pq_knn_refined(
            shortlist=40, topk=10, where="(enc.vec_id % 3) = 0"
        ),
        "pq_knn_join": _sql_pq_knn_join(
            nq=PQJ_NQ, shortlist=PQJ_SHORTLIST, topk=PQJ_TOPK
        ),
        "ivf_pq_knn": _sql_ivf_pq_topk(),
        # catch-up serve: prefix-built + refreshed index ≡ full-corpus
        # deterministic fit (the codebook sample lies inside the prefix),
        # so the oracle is the refined replay at the catchup geometry
        "pq_index_catchup": _sql_pq_knn_refined(shortlist=40, topk=12),
        "weighted_mix": f"""
            WITH b AS (
              SELECT source, doc_id,
                     (((doc_id * 2654435761 + 40503) % 1000000007 + 1000000007) % 1000000007) % 1000 AS bucket
              FROM documents
            ),
            k AS (
              SELECT * FROM b
              WHERE bucket < CASE source
                  WHEN 'src0' THEN {MIX_RATES["src0"]}
                  WHEN 'src1' THEN {MIX_RATES["src1"]}
                  WHEN 'src2' THEN {MIX_RATES["src2"]}
                  ELSE {MIX_DEFAULT_PERMILLE} END
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM k GROUP BY source
        """,
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id, ((doc_id % {PACK_SHARDS} + {PACK_SHARDS}) % {PACK_SHARDS}) AS shard,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, shard, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM t
            )
            SELECT shard, CAST(excl // {PACK_MAX_TOKENS} AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY 1, 2
        """,
        # session_window merge rule: new session iff gap >= 30 min (half-open
        # windows), hence the `>=` here vs events_sessionize's `>`
        "streaming_sessionize": """
            WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),
            g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts - lag(ts) OVER w >= 1800000000000
                          THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess
              FROM g
            )
            SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id
        """,
        # streaming decontamination: reference anti-join is per-batch and
        # stateless, so the single-file contract reduces to the batch SQL
        "streaming_dedup_against": """
            WITH r AS (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM documents d
              WHERE doc_id % 2 = 0
                AND NOT EXISTS (SELECT 1 FROM documents o
                                WHERE o.doc_id % 2 = 1 AND o.text = d.text)
            )
            SELECT doc_id, lang, source FROM r WHERE rn = 1
        """,
        # stream ≡ batch: single-file bounded stream → one micro-batch →
        # the first-seen representative IS the min-doc_id per text
        "streaming_dedup": """
            WITH r AS (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM documents
            )
            SELECT doc_id, lang, source FROM r WHERE rn = 1
        """,
        "histogram_chars": """
            SELECT CAST(least(15, greatest(0, ((n_chars - 0) * 16) // 640))
                       AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        """,
        "top_quality_docs": _sql_top_quality(),
        "training_mix_packed": _sql_training_mix_packed(),
        "sliding_7d": f"""
            WITH daily AS (
              SELECT epoch_ns(ts) // {86_400 * 1_000_000_000} AS day, event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
              FROM events GROUP BY 1, 2
            )
            SELECT day, event_type,
                   CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
                   CAST(SUM(sum_dec) OVER w AS DOUBLE) AS sum_value_7d
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "cohort_retention": f"""
            WITH e AS (
              SELECT user_id, epoch_ns(ts) // {7 * 86_400 * 1_000_000_000} AS period
              FROM events
            ),
            a AS (
              SELECT DISTINCT user_id, period,
                     min(period) OVER (PARTITION BY user_id) AS cohort
              FROM e
            )
            SELECT cohort AS cohort_period,
                   period - cohort AS period_offset,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM a GROUP BY 1, 2
        """,
        # replay of operators.multimodal.resize_images(decode='fake'):
        # out[i] = src[(i*n) // (w*h)] for i in 0..w*h-1, empty blob → one
        # zero byte; the digest is md5 over the resized blob's UPPERCASE hex
        # (both engines' hex alphabet), since DuckDB md5 is VARCHAR-only
        "image_near_dups": _sql_image_near_dups(IMAGE_DHASH_MAX_HAMMING),
        "media_resize": """
            WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
            b AS (
              SELECT doc_id,
                     CASE WHEN octet_length(blob) = 0 THEN '00' ELSE hex(blob) END AS hx,
                     CASE WHEN octet_length(blob) = 0 THEN 1 ELSE octet_length(blob) END AS n
              FROM d
            ),
            r AS (
              SELECT doc_id,
                     string_agg(substr(hx, 2 * ((i * n) // 512) + 1, 2), '' ORDER BY i) AS rhex
              FROM b, generate_series(0, 511) AS t(i)
              GROUP BY doc_id
            )
            SELECT doc_id, 32 AS out_width, 16 AS out_height, md5(rhex) AS digest
            FROM r
        """,
        "media_frame_offsets": """
            SELECT doc_id,
                   CAST(len(generate_series(0, greatest(octet_length(encode(text)) * 40 - 1, 0), 1000)) AS BIGINT)
                       AS n_frames,
                   array_to_string(generate_series(0, greatest(octet_length(encode(text)) * 40 - 1, 0), 1000), ',')
                       AS offsets_csv
            FROM documents
        """,
    }
    for name, filt in FILTER_CASES.items():
        out[name] = _sql_filter(filt)
    for name, filt in SCHEMALESS_CASES.items():
        out[name] = _sql_schemaless(filt)
    return out
