"""Similarity search over embedding columns: exact baseline + scale paths.

* ``brute_force_topk`` — exact cosine/L2 top-k per query; the correctness
  oracle for every approximate path (recall@k is measured against it).
* ``lsh_index`` / ``lsh_topk`` — MLlib ``BucketedRandomProjectionLSH``
  (random-hyperplane bucketing): the batch-built, shuffle-bounded
  approximate path (the north star's "batch vector index build via MLlib").
* ``ivf_assign`` / ``ivf_topk`` — inverted-file (coarse k-means centroid)
  search: probe the ``nprobe`` nearest cells only. At 100 TB the corpus is
  written partitioned by cell id, so a query touches ``nprobe`` partitions
  instead of the full table (partition pruning on the cell column).

Each vector-search stage has one kernel here, shared by the in-memory
forms below, the bucketed cell table and the standing indexes
(``index_store``): :func:`_nearest` (argmin cell / codeword),
:func:`ivf_probe_cells` (driver probe order) and :func:`_probe` (in-plan
probe), :func:`_fit_centroids` (coarse fit by name), :func:`_adc_tables`
+ :func:`_adc_score` (PQ asymmetric distance) and :func:`_l2_topk` (exact
rank). Pairs are scored by ``knn._score_pairs``.

The reference's ANN is a single in-RAM HNSW graph (``/root/reference/
db/hnsw.go``) which cannot exceed one machine's memory; these paths are its
distributed replacement with explicit recall/latency knobs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kaer_spark.functions.vector import (
    cosine_similarity,
    double_array_lit,
    double_matrix_lit,
    l2sq,
)
from kaer_spark.operators.knn import _per_query_topk, _score_pairs
from kaer_spark.operators.util import ensure_parallelism, vec_dim, vec_sample


def brute_force_topk(
    corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k for one query vector (TakeOrderedAndProject plan)."""
    if metric != "cosine":
        return _l2_topk(corpus, query_vector, k, vec_col, id_col)
    score = cosine_similarity(vec_col, list(query_vector))
    order = [F.col("_score").desc(), F.col(id_col).asc()]
    return corpus.withColumn("_score", score).orderBy(*order).limit(k)


def _l2_topk(
    df: DataFrame, query_vector: Sequence[float], k: int, vec_col: str, id_col: str
) -> DataFrame:
    """Exact l2sq top-k as ``_score`` (ascending, ties by id): the one
    exact rank every IVF/PQ form ends in (TakeOrderedAndProject)."""
    return (
        df.withColumn("_score", l2sq(vec_col, list(query_vector)))
        .orderBy(F.col("_score").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# MLlib LSH
# ---------------------------------------------------------------------------
def lsh_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
):
    """Fit a BucketedRandomProjectionLSH model over an array<float> column.

    Returns ``(model, transformed_corpus)`` where the corpus gains ``_vec``
    (ml VectorUDT) and ``hashes``. This is the batch "index build": a
    narrow map-only job whose output can be written partitioned by bucket.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.withColumn("_vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="_vec",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(prepared)
    return model, model.transform(prepared)


def lsh_topk(
    model,
    indexed_corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
) -> DataFrame:
    """Approximate top-k via the fitted LSH model (probes matching buckets)."""
    from pyspark.ml.linalg import Vectors

    return model.approxNearestNeighbors(
        indexed_corpus, Vectors.dense([float(x) for x in query_vector]), k
    )


def lsh_similarity_join(
    model, left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """Distance-threshold similarity join through LSH buckets — the
    shuffle-bounded replacement for an all-pairs cosine join."""
    return model.approxSimilarityJoin(left, right, threshold, distCol="dist")


# ---------------------------------------------------------------------------
# IVF (coarse-quantizer) search
# ---------------------------------------------------------------------------
def ivf_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    cells: int = 16,
    seed: int = 42,
):
    """K-means coarse quantizer; returns the fitted model (cell centroids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.withColumn("_vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=cells, seed=seed, featuresCol="_vec", predictionCol="_cell")
    return km.fit(prepared)


def ivf_assign(model, corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Tag each row with its IVF cell. Write the result partitioned by
    ``_cell`` and queries prune to ``nprobe`` partitions."""
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.withColumn("_vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    return model.transform(prepared).drop("_vec")


def ivf_topk(
    model,
    assigned_corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the nprobe nearest cells, exact-rank inside them.

    Driver computes the probe order from the (tiny) centroid set
    (:func:`ivf_probe_cells`); the scan then prunes on ``_cell IN (...)``
    — partition pruning when the corpus is stored partitioned by cell.
    """
    probe = ivf_probe_cells(_centers(model), query_vector, nprobe)
    return _probed_topk(assigned_corpus, probe, query_vector, k, vec_col, id_col)


def _centers(model) -> list[list[float]]:
    """A fitted MLlib k-means model's centroids as plain float lists."""
    return [[float(x) for x in c] for c in model.clusterCenters()]


# ---------------------------------------------------------------------------
# Deterministic IVF: the fully ORACLE-CHECKABLE approximate path
# ---------------------------------------------------------------------------
def ivf_fit_deterministic(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
) -> list[list[float]]:
    """Centroids = the ``cells`` smallest-id non-null vectors
    (deterministic sample fit — the degenerate k-means with zero Lloyd
    iterations; the sample is :func:`~kaer_spark.operators.util.vec_sample`).

    Why no iterations: iterated means sum floats in engine-dependent order,
    so a k-means centroid can never replay bit-exactly in a SQL oracle. The
    IVF *contract* — assign every row to its nearest centroid, probe the
    ``nprobe`` nearest cells, exact-rank within them — doesn't depend on
    centroid quality, only on both engines agreeing on the assignment; so
    this variant trades some cell balance for END-TO-END bit-exact
    verifiability (the same trade ``sq_fit`` makes vs ``pq_fit``). Use
    ``ivf_fit`` (MLlib k-means) when recall matters more than replay.
    """
    return vec_sample(
        corpus, vec_col, cells, F.col(id_col).asc(), what=f"cells={cells}"
    )


#: fixed universal-hash constants for the spread sample (same family as
#: dedup.minhash_coeffs: pure int64 arithmetic, SQL-replayable)
_SPREAD_A = 2654435761
_SPREAD_B = 0x9E3779B9
_SPREAD_P = 1_000_000_007


def ivf_fit_spread(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
) -> list[list[float]]:
    """Centroids = the ``cells`` non-null vectors with smallest
    ``(a·id + b) mod P`` — the deterministic fit with a SPREAD sample.

    :func:`ivf_fit_deterministic` takes the ``cells`` smallest-id vectors;
    if ingestion order correlates with content (time-ordered crawls,
    per-source id blocks — the common case at corpus scale) those vectors
    are clumped and one cell swallows most of the corpus, which is exactly
    the imbalance that blows up ``ivf_knn_join``'s within-cell pair work.
    Ordering by a fixed universal hash of the id decorrelates the sample
    from ingestion order while keeping the same bounded
    ``TakeOrderedAndProject`` plan (no global sort, no window) and the
    same SQL replayability (``ORDER BY (a*id + b) % P LIMIT cells`` —
    pure integer arithmetic). Still zero Lloyd iterations — same
    bit-exactness rationale as the smallest-id fit.
    """
    # pmod (not %) so the key is non-negative even if the int64 product
    # overflows to negative (ids >= ~3.5e9); an oracle replays it as
    # ((a*id + b) % P + P) % P — the module-wide sampling.py discipline.
    # Ids must still fit the int64 product without wrapping COLLISIONS
    # (pre-mod the id beyond ~3.5e9, as sampling.sample_bucket documents).
    hkey = F.pmod(
        F.col(id_col).cast("long") * F.lit(_SPREAD_A) + F.lit(_SPREAD_B),
        F.lit(_SPREAD_P),
    )
    return vec_sample(
        corpus, vec_col, cells, hkey.asc(), F.col(id_col).asc(),
        what=f"cells={cells}",
    )


def _dist_structs(vec, points, dist, tag: str) -> Column:
    # (distance, index) structs: lexicographic struct ordering IS the
    # (dist, index) tie-break
    return F.array(
        *[
            F.struct(dist(vec, p).alias("d"), F.lit(i).alias(tag))
            for i, p in enumerate(points)
        ]
    )


def _nearest(vec, points: list[list[float]], dist=l2sq) -> Column:
    """Index of the nearest of ``points`` (ties → smaller index):
    ``array_min`` over (distance, index) structs, wholly in codegen. The
    one argmin behind cell assignment and PQ encoding; ``dist`` builds the
    distance-like expression (the cosine assigner passes negated cosine
    similarity — argmin over -cos IS argmax cos)."""
    return F.array_min(_dist_structs(vec, points, dist, "c"))["c"]


def _probe(vec, centroids: list[list[float]], nprobe: int, dist=l2sq) -> Column:
    """In-plan probe: the ``nprobe`` nearest cell ids of a vector column,
    nearest first (``array_sort`` + ``slice`` over the same structs)."""
    nearest_first = F.array_sort(_dist_structs(vec, centroids, dist, "j"))
    return F.transform(F.slice(nearest_first, 1, int(nprobe)), lambda s: s["j"])


def ivf_assign_deterministic(
    corpus: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Tag rows with argmin-distance cell (ties → smaller cell id) — the
    :func:`_nearest` kernel, as every cell-assigned table stores it."""
    return corpus.withColumn("_cell", _nearest(vec_col, centroids))


def py_l2sq(a: Sequence[float], b: Sequence[float]) -> float:
    """Pure-Python left-associative squared L2 — the same IEEE op order as
    functions.vector.l2sq's fold and the oracle's unrolled sum, so probe
    selection computed driver-side agrees with both engines bit-for-bit."""
    s = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        s = s + d * d
    return s


def ivf_probe_cells(
    centroids: list[list[float]], query_vector: Sequence[float], nprobe: int
) -> list[int]:
    """The one driver-side probe order: the ``nprobe`` nearest cells by
    (:func:`py_l2sq`, cell id), nearest first."""
    dists = [(py_l2sq(c, query_vector), j) for j, c in enumerate(centroids)]
    return [j for _, j in sorted(dists)[:nprobe]]


def _probed_topk(
    df: DataFrame,
    cells: list[int],
    query_vector: Sequence[float],
    k: int,
    vec_col: str,
    id_col: str,
    pred=None,
) -> DataFrame:
    """Exact top-k inside the probed cells of a cell-assigned table."""
    probed = df.filter(F.col("_cell").isin(cells))
    if pred is not None:
        probed = probed.filter(pred)
    return _l2_topk(probed, query_vector, k, vec_col, id_col)


def _fit_centroids(
    corpus: DataFrame,
    fit: str,
    fits: tuple[str, ...],
    vec_col: str,
    id_col: str,
    cells: int,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse centroids from the fit named ``fit`` — ``"kmeans"``
    (:func:`ivf_fit`), ``"deterministic"`` or ``"spread"`` — which must be
    one of the caller's ``fits``."""
    if fit not in fits:
        raise ValueError(
            f"unknown fit {fit!r}: use " + ", ".join(repr(f) for f in fits)
        )
    if fit == "kmeans":
        return _centers(ivf_fit(corpus, vec_col=vec_col, cells=cells, seed=seed))
    sample = ivf_fit_spread if fit == "spread" else ivf_fit_deterministic
    return sample(corpus, vec_col, id_col, cells)


def ivf_topk_deterministic(
    corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    cells: int = 8,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """End-to-end deterministic IVF search: fit → assign → probe → exact
    rank inside the probed cells (TakeOrderedAndProject). Every stage is
    replayable in ANSI SQL, so unlike the k-means path this approximate
    query carries a full value-level oracle."""
    cents = ivf_fit_deterministic(corpus, vec_col, id_col, cells)
    assigned = ivf_assign_deterministic(corpus, cents, vec_col)
    probe = ivf_probe_cells(cents, query_vector, nprobe)
    return _probed_topk(assigned, probe, query_vector, k, vec_col, id_col)


def ivf_scored_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    cells: int = 64,
    nprobe: int = 8,
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    centroids: list[list[float]] | None = None,
    metric: str = "l2sq",
    corpus_pred=None,
) -> tuple[DataFrame, list]:
    """The candidate stage every IVF join-shaped operator shares (one body
    — the r11 fuzzy-family divergence lesson): cell-assign the corpus,
    probe each query's ``nprobe`` nearest cells, equi-join ON THE CELL ID,
    score the survivors. Returns ``(scored, order)`` where ``scored`` is
    the narrow ``(__qid, corpus_id_col, __score)`` triple and ``order`` is
    the metric's rank ordering (ties by corpus id) — callers apply their
    own pre-cut filters and the per-query window. See
    :func:`ivf_knn_join` for the full shape/scale discussion."""
    if metric not in ("l2sq", "cosine"):
        raise ValueError(f"metric must be 'l2sq' or 'cosine', got {metric!r}")

    # "distance" used for assignment + probing: l2sq, or negated cosine
    # (argmin over -cos IS argmax cosine; struct ties break on cell id)
    cell_dist = l2sq if metric == "l2sq" else lambda v, c: -cosine_similarity(v, c)
    if "_cell" in corpus.columns:
        # pre-assigned corpus (e.g. the materialized index_store table):
        # reuse the stored assignment — no per-row argmin over `cells`
        # centroid distances on every join. `centroids` is then required
        # (the sidecar's literals) so query probing matches the build.
        if centroids is None:
            raise ValueError("pre-assigned corpus requires explicit centroids")
        assigned = corpus
    else:
        if centroids is None:
            # spread fit by default: the join's cost is within-cell pair
            # work, so cell balance matters more here than in single-query
            # probing (both fits are equally deterministic/replayable)
            centroids = ivf_fit_spread(
                corpus, corpus_vec_col, corpus_id_col, cells
            )
        # widen BEFORE the per-row argmin over `cells` centroid distances:
        # a small parquet corpus arrives as one split and the whole
        # expression-heavy assignment stage runs on a single core (r17
        # profile: an 8s one-task stage under contrastive_triplets_mine);
        # on a multi-TB scan this is a no-op (operators/util.py)
        assigned = ensure_parallelism(corpus).withColumn(
            "_cell", _nearest(corpus_vec_col, centroids, cell_dist)
        )
    if corpus_pred is not None:
        assigned = assigned.filter(corpus_pred)
    # same single-split guard for the query side: mining-shaped callers
    # (contrastive_triplets) pass corpus-derived anchor tables that arrive
    # on one partition, and the nprobe explode + per-query centroid ranks
    # would otherwise evaluate single-threaded
    qa = ensure_parallelism(queries).select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec"),
        F.explode(_probe(query_vec_col, centroids, nprobe, cell_dist)).alias(
            "_cell"
        ),
    )
    return _score_pairs(
        qa, assigned, lambda q, c: q.join(c, "_cell"), corpus_vec_col,
        corpus_id_col, metric,
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    cells: int = 64,
    nprobe: int = 8,
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    centroids: list[list[float]] | None = None,
    metric: str = "l2sq",
    corpus_pred=None,
) -> DataFrame:
    """Approximate kNN JOIN that never broadcasts the query side — the
    scale path ``operators.knn.knn_join`` punts on ("for huge query sides,
    chunk the queries and union").

    ``metric="cosine"`` ranks survivors by descending cosine similarity
    (matching ``knn_join``'s tie rules) and probes cells by ANGLE: queries
    pick the ``nprobe`` centroids with the highest cosine, and when this
    function also assigns the corpus, assignment is spherical (argmax
    cosine to the centroid). Don't mix metrics between build and join on a
    pre-assigned corpus — an L2-assigned cell layout probed by angle loses
    recall for vectors whose magnitude, not direction, drove their cell.

    Shape: assign every corpus row to its nearest of ``cells`` centroids
    (narrow argmin expression, no shuffle beyond the cell equi-join);
    compute each query's ``nprobe`` nearest cells as a pure Catalyst
    ``array_sort``+``slice`` over the centroid-distance structs and explode
    to ``(query, cell)``; equi-join queries to corpus ON THE CELL ID; exact
    per-query top-k window over the survivors. Shuffle volume: corpus once
    on ``_cell`` (or zero if the corpus is already the cell-partitioned
    ``index_store`` table), queries ``nprobe``× replicated — versus
    ``knn_join``'s full corpus × queries distance evaluation with the
    query table resident on every executor. Within-cell pair work is
    |q_cell| × |c_cell|: size ``cells`` ~ √N so cells stay bounded, and
    AQE's skew-join split handles hot cells. Recall follows the IVF
    envelope (README: measured by sweep, not tabulated) — a true neighbor
    is missed only when it lives outside all ``nprobe`` probed cells.

    Deterministic end-to-end with the default sample-fit centroids, so
    results are stable across runs/engines; pass ``centroids`` (e.g. from
    a k-means fit or a stored ``index_store`` sidecar) to reuse a better
    quantizer. ``corpus_pred`` (a boolean Column) pre-filters the corpus —
    the reference's filtered-ANN semantics in batch form; the filter sits
    below the join so Catalyst pushes it into the corpus scan.
    """
    scored, order = ivf_scored_candidates(
        queries,
        corpus,
        cells=cells,
        nprobe=nprobe,
        query_vec_col=query_vec_col,
        corpus_vec_col=corpus_vec_col,
        query_id_col=query_id_col,
        corpus_id_col=corpus_id_col,
        centroids=centroids,
        metric=metric,
        corpus_pred=corpus_pred,
    )
    return _per_query_topk(scored, order, k, query_id_col, corpus_id_col)


# ---------------------------------------------------------------------------
# Sign-LSH top-k: banded Rademacher probing, also fully oracle-checkable
# ---------------------------------------------------------------------------
def signlsh_topk(
    corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k: candidates = rows sharing ≥1 sign-LSH band
    key with the query (the dedup family's deterministic Rademacher planes
    — operators.dedup.signlsh_*), exact-cosine-ranked. The query's band
    keys are computed driver-side with the same left-assoc IEEE fold, so
    the whole plan — candidate predicate included — replays in SQL."""
    from kaer_spark.operators.dedup import signlsh_band_key, signlsh_planes

    planes = signlsh_planes(len(list(query_vector)), bands * bits_per_band, seed)
    qkeys = signlsh_query_keys(query_vector, planes, bands, bits_per_band)
    cond = None
    for b in range(bands):
        band_planes = planes[b * bits_per_band : (b + 1) * bits_per_band]
        eq = signlsh_band_key(vec_col, band_planes) == F.lit(qkeys[b])
        cond = eq if cond is None else cond | eq
    return (
        corpus.filter(cond)
        .withColumn("_score", cosine_similarity(vec_col, list(query_vector)))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def signlsh_query_keys(
    query_vector: Sequence[float],
    planes: list[list[float]],
    bands: int,
    bits_per_band: int,
) -> list[int]:
    """The query's per-band bucket keys, left-assoc float64 like the fold."""
    keys = []
    for b in range(bands):
        key = 0
        for j in range(bits_per_band):
            p = planes[b * bits_per_band + j]
            s = 0.0
            for x, c in zip(query_vector, p):
                s = s + float(x) * c
            if s >= 0.0:
                key += 1 << j
        keys.append(key)
    return keys


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str) -> float:
    """|approx ∩ exact| / |exact| on the id column (validation metric)."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(len(e), 1)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression scale path
# ---------------------------------------------------------------------------


def pq_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Fit ``m`` subspace codebooks of ``k`` centroids each (classic PQ,
    Jégou et al. 2011): the vector is split into m contiguous slices and
    each slice is k-means-quantized independently. A dim-64 float32 vector
    compresses 64×4 bytes → m=8 single-byte codes (32×), which is what
    makes billion-vector ANN fit a cluster's memory at all.

    Returns codebooks[j][c] = centroid c of subspace j (plain lists — tiny,
    driver-resident, shipped to executors as literals).

    ``sample_fraction``: codebooks converge on a sample — at 100 TB fit on
    ~1M sampled vectors (seeded, deterministic), never the full corpus;
    encoding then streams over everything once."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = vec_dim(corpus, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    books = []
    arr = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        arr = arr.sample(fraction=sample_fraction, seed=seed)
    # one materialization feeds all m fits — without it every fit rescans
    # and re-slices the corpus
    arr = arr.localCheckpoint()
    for j in range(m):
        sl = arr.select(
            array_to_vector(F.slice("v", j * d + 1, d)).alias("_vec")
        )
        km = KMeans(
            k=k, seed=seed + j, featuresCol="_vec", predictionCol="_c",
            maxIter=max_iter,
        )
        books.append(_centers(km.fit(sl)))
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-byte PQ code: per subspace, the argmin-distance
    centroid index. Arrow-batched ``mapInPandas`` (numpy argmin over the
    k×d codebook per batch — same slow-path budget as the embedding
    stage); at rest only the codes need to be stored/shuffled."""
    import numpy as np

    from pyspark.sql import types as T

    m = len(codebooks)
    d = len(codebooks[0][0])
    books = [np.asarray(b) for b in codebooks]  # m × k × d
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(code_col, T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((mat.shape[0], m), dtype=np.int32)
            for j in range(m):
                sl = mat[:, j * d : (j + 1) * d]  # batch × d
                # ||x - c||² argmin via the expanded form; batch × k
                d2 = (
                    (sl * sl).sum(axis=1, keepdims=True)
                    - 2.0 * sl @ books[j].T
                    + (books[j] * books[j]).sum(axis=1)
                )
                codes[:, j] = d2.argmin(axis=1)
            pdf[code_col] = [row.tolist() for row in codes]
            yield pdf

    return df.mapInPandas(encode, schema)


def _adc_tables(
    codebooks: list[list[list[float]]], query_vector: Sequence[float]
) -> Column:
    """The driver ADC lookup table as a literal: per subspace, the
    :func:`py_l2sq` of the query slice to every codeword — the same
    left-assoc ``(x - c) * (x - c)`` fold as every engine-side distance."""
    d = len(codebooks[0][0])
    q = [float(x) for x in query_vector]
    return double_matrix_lit(
        [
            [py_l2sq(q[j * d : (j + 1) * d], c) for c in book]
            for j, book in enumerate(codebooks)
        ]
    )


def _adc_score(table: Column, code_col: str = "pq_code") -> Column:
    """Per-row ADC distance: gather each subspace's table entry at the
    row's code and sum from 0.0 (``zip_with`` + ``aggregate``)."""
    return F.aggregate(
        F.zip_with(F.col(code_col), table, lambda c, t: t[c]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is NOT
    quantized — per subspace the exact distances from the query slice to
    all centroids are precomputed on the driver (an m×k table of floats),
    and each row's approximate distance is m table lookups + adds, executed
    as a pure Catalyst expression (zip_with + aggregate) inside codegen.
    No vector column is read at query time: the scan touches only the
    id + m-int code columns."""
    dist = _adc_score(_adc_tables(codebooks, query_vector), code_col)
    return (
        encoded.withColumn("_score", dist)
        .orderBy(F.col("_score").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "_score")
    )


# ---------------------------------------------------------------------------
# Deterministic PQ: sample-fit codebooks, Catalyst argmin encode — the
# product-quantization twin of ivf_*_deterministic, fully oracle-checkable
# ---------------------------------------------------------------------------
def pq_fit_deterministic(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
) -> list[list[list[float]]]:
    """Codebooks = slices of the ``k`` smallest-id non-null vectors
    (deterministic sample fit, zero Lloyd iterations — same verifiability
    trade as ``ivf_fit_deterministic``; use ``pq_fit`` when recall >
    replay)."""
    rows = vec_sample(corpus, vec_col, k, F.col(id_col).asc(), what=f"k={k}")
    dim = len(rows[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    return [[r[j * d : (j + 1) * d] for r in rows] for j in range(m)]


def pq_encode_deterministic(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-byte code as a pure Catalyst expression: per subspace,
    the :func:`_nearest` argmin over (distance, centroid) structs — the same direct
    (x-c)² left-assoc fold the oracle unrolls (NOT the numpy expanded form
    ``x·x - 2x·c + c·c``, whose different rounding could flip an argmin).
    Stays in codegen; nothing leaves the JVM.

    Measured dead end (r11): unrolling these folds into literal
    element_at sums — a trick that won for 16–24-term hash windows —
    is 2.5× SLOWER here: m·k·d ≈ 1024 terms per row blows past
    the codegen method limits and the whole expression falls back to
    interpreted eval. The zip_with/aggregate HOF stays."""
    d = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    codes = [
        _nearest(F.slice(v, j * d + 1, d), book) for j, book in enumerate(codebooks)
    ]
    return df.withColumn(code_col, F.array(*codes))


def pq_topk_deterministic(
    corpus: DataFrame,
    query_vector: Sequence[float],
    topk: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic-PQ ADC top-k: fit → Catalyst encode → :func:`pq_topk`
    (m table lookups + adds per row; the tables are driver-computed with
    the same left-assoc fold — ``py_l2sq`` — as every engine-side
    distance). For a codebook row itself the ADC distance is the true
    slice-grouped l2sq (codes hit distance-0 centroids) — bit-equal to the
    same Python fold, and equal to the flat 64-term l2sq only within
    last-ulp association error, which is why the oracle replays the SLICE
    grouping, not a flat sum."""
    books = pq_fit_deterministic(corpus, vec_col, id_col, m, k)
    encoded = pq_encode_deterministic(corpus, books, vec_col)
    return pq_topk(encoded, books, query_vector, topk, id_col)


def pq_topk_refined(
    corpus: DataFrame,
    query_vector: Sequence[float],
    topk: int,
    shortlist: int = 50,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieval: deterministic-PQ ADC shortlist → EXACT re-rank
    — the production IVF-PQ serving shape (Jegou et al. 2011 §V-A
    re-ranking with source vectors; what FAISS calls ``IndexRefineFlat``).
    The reference's HNSW (``/root/reference/db/hnsw.go``) always scores
    full vectors; at 100 TB the winning layout is compressed codes for the
    corpus-wide stage and raw vectors only for the ``shortlist`` survivors.

    Stage 1 reads only the m-int code column (32× less IO than raw
    vectors at m=8/dim=64 float32) and heap-selects ``shortlist`` rows by
    ADC distance — TakeOrderedAndProject, no global sort. Stage 2 computes
    the exact float64 l2sq for those rows only and returns the ``topk``
    best. Returned ``_score`` is the EXACT distance: a hit's reported
    score carries no quantization error, and recall is the only
    approximation (missed candidates, bounded by ``shortlist``; at
    ``shortlist`` ≥ corpus size the result ≡ ``brute_force_topk``).

    Deterministic end to end (sample-fit codebooks, fixed-association
    folds, (score, id) ordering both stages), so a SQL oracle replays both
    stages value-exactly — the refine family's fully oracle-checked member.
    """
    if topk > shortlist:
        raise ValueError(f"topk {topk} > shortlist {shortlist}")
    books = pq_fit_deterministic(corpus, vec_col, id_col, m, k)
    return _pq_adc_refine(
        corpus, books, query_vector, topk, shortlist, vec_col, id_col
    )


def _pq_adc_refine(
    rows: DataFrame,
    books: list[list[list[float]]],
    query_vector: Sequence[float],
    topk: int,
    shortlist: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared refine tail: Catalyst argmin encode of ``rows`` under
    ``books``, driver-computed ADC tables (engine-shared left-assoc fold),
    ADC heap shortlist, exact-l2sq re-rank → ``(id, _score)``."""
    short = (
        pq_encode_deterministic(rows, books, vec_col)
        .withColumn("_adc", _adc_score(_adc_tables(books, query_vector)))
        .orderBy(F.col("_adc").asc(), F.col(id_col).asc())
        .limit(int(shortlist))
    )
    return _l2_topk(short, query_vector, topk, vec_col, id_col).select(
        id_col, "_score"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    query_vector: Sequence[float],
    topk: int,
    cells: int = 8,
    nprobe: int = 3,
    shortlist: int = 50,
    m: int = 8,
    codebook_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ with exact refine — the full billion-scale serving stack
    (Jegou et al. 2011 IVFADC §V + re-ranking; FAISS
    ``IVFx,PQy`` + ``RefineFlat``), composed from the deterministic
    members of both families so the WHOLE pipeline carries a value-level
    oracle at PARTIAL probe (not the full-probe-≡-exact escape hatch):

    1. coarse quantizer: ``cells`` smallest-id centroids, argmin cell
       assignment (at rest this is the cell-partitioned ``index_store``
       table — a query scans ``nprobe`` partitions, not the corpus);
    2. probe the ``nprobe`` query-nearest cells (driver arithmetic over
       ``cells`` centroids, the engine-shared ``py_l2sq`` fold);
    3. ADC over the probed cells only, reading the m-int code column —
       corpus-level codebooks, so codes are comparable across cells;
    4. ``shortlist`` heap cut by ADC, exact float64 re-rank → ``topk``
       with EXACT reported distances.

    Recall factors cleanly: cell recall (the IVF envelope, missed only
    when a true neighbor lives outside all probed cells) × shortlist
    recall (the PQ envelope, bounded by ``shortlist``); at
    ``nprobe=cells`` and ``shortlist`` ≥ corpus this IS
    ``brute_force_topk``. Reference parity: the HNSW ef/k trade
    (``/root/reference/db/hnsw.go`` ef=200) with explicit, separately
    tunable knobs instead of one opaque graph parameter.
    """
    if topk > shortlist:
        raise ValueError(f"topk {topk} > shortlist {shortlist}")
    cents = ivf_fit_deterministic(corpus, vec_col, id_col, cells)
    assigned = ivf_assign_deterministic(corpus, cents, vec_col)
    probe = ivf_probe_cells(cents, query_vector, nprobe)
    probed = assigned.filter(F.col("_cell").isin(probe)).drop("_cell")
    books = pq_fit_deterministic(corpus, vec_col, id_col, m, codebook_k)
    return _pq_adc_refine(
        probed, books, query_vector, topk, shortlist, vec_col, id_col
    )


def _py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Left-assoc float64 dot — the same fold order as the engine's
    ``functions.vector.dot`` and the oracle's explicit ``+`` chain."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def mmr_rerank(
    corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    pool: int = 50,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    diversity-aware top-k — each step greedily picks the candidate
    maximizing ``lam·rel(c) − (1−lam)·max_{s∈S} sim(c, s)``, so near-dup
    results can't crowd the result list (the RAG retrieval polish the
    similarity family needs once the corpus is dedup-worthy). ``lam=1``
    degrades to plain relevance ranking; ``lam=0`` maximizes diversity.

    Output: ``(rank, id, relevance)`` — ``rank`` is selection order,
    ``relevance`` the exact cosine to the query. Zero vectors (NULL
    cosine) are excluded from the pool.

    Scale shape: stage 1 is the exact cosine top-``pool`` cut
    (``TakeOrderedAndProject`` — the only corpus-sized work, identical
    envelope to ``brute_force_topk``). The greedy itself is inherently
    sequential (each pick depends on all previous picks), so it runs
    driver-side over the COLLECTED pool — bounded by ``pool`` rows
    (≤ pool²·dim float ops), the same k-bounded envelope as returning the
    result set; nothing corpus-sized is ever collected. All arithmetic is
    fixed-association float64 (left-assoc dots, ``math.sqrt`` norms,
    ties to min id), so a DuckDB recursive-CTE oracle replays every pick
    bit-for-bit.
    """
    import math

    if not 0.0 <= float(lam) <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k > pool:
        raise ValueError(f"k {k} > pool {pool}")
    rel = cosine_similarity(vec_col, list(query_vector))
    rows = (
        corpus.withColumn("_rel", rel)
        .filter(F.col("_rel").isNotNull())
        .orderBy(F.col("_rel").desc(), F.col(id_col).asc())
        .limit(int(pool))
        .select(id_col, vec_col, "_rel")
        .collect()
    )
    vecs = {r[id_col]: [float(x) for x in r[vec_col]] for r in rows}
    rels = {r[id_col]: float(r["_rel"]) for r in rows}
    norms = {i: math.sqrt(_py_dot(v, v)) for i, v in vecs.items()}
    lam_f, inv = float(lam), 1.0 - float(lam)

    def sim(a, b):
        return _py_dot(vecs[a], vecs[b]) / (norms[a] * norms[b])

    selected: list = []
    remaining = sorted(vecs)
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for cid in remaining:
            msim = max((sim(cid, s) for s in selected), default=0.0)
            score = lam_f * rels[cid] - inv * msim
            if best_score is None or score > best_score:
                best_id, best_score = cid, score
        selected.append(best_id)
        remaining.remove(best_id)
    out = [(i + 1, sid, rels[sid]) for i, sid in enumerate(selected)]
    id_field = corpus.schema[id_col].dataType.simpleString()
    return corpus.sparkSession.createDataFrame(
        out, f"rank long, {id_col} {id_field}, relevance double"
    )


# ---------------------------------------------------------------------------
# scalar quantization (SQ, int8) — the oracle-checkable compression path
# ---------------------------------------------------------------------------
def sq_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) ranges for uniform int8 quantization.

    One global aggregation of 2·dim partial-aggregatable min/max
    expressions: a single map-side-combined pass, NO shuffle of vectors,
    no explode — this is the scan-shaped way to get per-dim ranges at
    100 TB (``posexplode + groupBy(dim)`` would shuffle rows×dim postings).
    Exact min/max (not quantiles), so results are deterministic and a SQL
    oracle recomputes identical bits.
    """
    dim = vec_dim(corpus, vec_col)
    arr = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        arr = arr.sample(fraction=sample_fraction, seed=seed)
    aggs = []
    for i in range(1, dim + 1):
        aggs.append(F.min(F.element_at("v", i)).alias(f"m{i}"))
        aggs.append(F.max(F.element_at("v", i)).alias(f"M{i}"))
    row = arr.agg(*aggs).first()
    mins = [float(row[f"m{i}"]) for i in range(1, dim + 1)]
    maxs = [float(row[f"M{i}"]) for i in range(1, dim + 1)]
    return mins, maxs


def _sq_scales(mins: Sequence[float], maxs: Sequence[float]) -> list[float]:
    # degenerate dims (constant value) quantize to code 0 / decode to min
    return [
        (255.0 / (M - m)) if M > m else 0.0 for m, M in zip(mins, maxs)
    ]


def sq_encode(
    corpus: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "sq_code",
) -> DataFrame:
    """(id, code array<int>) — ``code[i] = round((v[i]-min[i])·scale[i])``
    clamped to [0, 255]: 4 bytes/dim → 1, done as a pure Catalyst
    ``transform`` in the scan stage. Clamping only fires for vectors
    outside the fitted range (e.g. out-of-sample inserts)."""
    mins_l = double_array_lit(mins)
    scales_l = double_array_lit(_sq_scales(mins, maxs))
    code = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x - F.element_at(mins_l, i + 1))
                    * F.element_at(scales_l, i + 1)
                ).cast("int"),
            ),
        ),
    )
    return corpus.select(F.col(id_col), code.alias(code_col))


def sq_topk(
    encoded: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
) -> DataFrame:
    """Asymmetric L2 top-k over int8 codes: each code decodes to
    ``min[i] + code[i]·step[i]`` and the exact query is compared against
    the decoded point — a transform+aggregate fold in codegen, scan reads
    only (id, code). Deterministic (``_score``, id) ordering, so with the
    fit ranges pinned the whole path is exactly replayable by the DuckDB
    oracle — unlike PQ, whose k-means fit is MLlib-internal."""
    steps = [
        ((M - m) / 255.0) if M > m else 0.0 for m, M in zip(mins, maxs)
    ]
    a = [float(q) - float(m) for q, m in zip(query_vector, mins)]
    a_l = double_array_lit(a)
    steps_l = double_array_lit(steps)
    terms = F.transform(
        F.col(code_col),
        lambda c, i: (
            (F.element_at(a_l, i + 1) - c.cast("double") * F.element_at(steps_l, i + 1))
            * (F.element_at(a_l, i + 1) - c.cast("double") * F.element_at(steps_l, i + 1))
        ),
    )
    dist = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return (
        encoded.withColumn("_score", dist)
        .orderBy(F.col("_score").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "_score")
    )
