"""Exact kNN — search (one query) and join (many queries).

The reference's only query operator is single-query filtered ANN
(``/root/reference/db/db.go:111-143``). ``exact_knn`` is its exact
equivalent; ``knn_join`` generalizes to a query *table* (the shape a
100 TB retrieval/eval pipeline actually needs).

Physical plans (verified via ``.explain``):

* ``exact_knn``: parquet scan (predicate pushed down) → per-partition
  distance + heap top-k → driver merge — ``TakeOrderedAndProject``; no
  shuffle, no global sort, O(k) memory above the scan.
* ``knn_join``: broadcast the query side (queries ≪ corpus), evaluate
  distances in the scan stage, then one shuffle on query id for the
  per-query top-k window. At 1000 executors the corpus never moves, and
  the exchange input is bounded WITHOUT any Python stage: Spark ≥ 3.5
  rewrites ``row_number() <= k`` into a ``WindowGroupLimit`` pair
  (SPARK-37099) whose *Partial* node runs map-side, below the exchange —
  each input partition forwards at most its local per-query top-k, so the
  shuffle carries ≤ n_partitions × n_queries × k rows instead of
  corpus × queries. Plan-asserted in ``tests/test_knn.py``.

Every join-shaped form here and in ``similarity``/``index_store``
(broadcast, IVF cell join, standing index) scores its pairs with
:func:`_score_pairs` — one metric table, cosine norms once per side below
the join — and ranks them with :func:`_per_query_topk`.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaer_spark.filters import compile_filter
from kaer_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2sq,
    vector_norm,
)
from kaer_spark.operators.util import ensure_parallelism


def exact_knn(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int,
    vec_col: str = "_m_embedding",
    id_col: str = "_m_id",
    filter: Mapping[str, Any] | None = None,
    pred: Column | None = None,
    dist_col: str = "_dist",
    keep_dist: bool = False,
    metric: str = "l2sq",
) -> DataFrame:
    """Top-k rows nearest to ``query_vector`` among rows matching the
    (Mongo-style or Column) predicate; ties broken by id.

    ``metric="l2sq"`` ranks ascending squared-L2 (the reference's metric);
    ``metric="cosine"`` ranks descending cosine similarity;
    ``metric="dot"`` ranks descending inner product (MIPS — the ranking
    recommendation/retrieval models trained with dot-product losses need;
    NOT equivalent to cosine unless vectors are pre-normalized).
    """
    if filter is not None:
        pred = compile_filter(filter) if pred is None else pred & compile_filter(filter)
    if pred is not None:
        df = df.filter(pred)
    if k <= 0:
        return df.limit(0)
    if metric == "cosine":
        score = cosine_similarity(vec_col, list(query_vector))
        order = [F.col(dist_col).desc(), F.col(id_col).asc()]
    elif metric == "dot":
        score = dot(vec_col, list(query_vector))
        order = [F.col(dist_col).desc(), F.col(id_col).asc()]
    elif metric == "l2sq":
        score = l2sq(vec_col, list(query_vector))
        order = [F.col(dist_col).asc(), F.col(id_col).asc()]
    else:
        raise ValueError(
            f"metric must be 'l2sq', 'cosine' or 'dot', got {metric!r}"
        )
    out = df.withColumn(dist_col, score).orderBy(*order).limit(k)
    return out if keep_dist else out.drop(dist_col)


def _cosine_from_norms(v: Column) -> Column:
    # bit-identical to cosine_similarity: same denom product order (corpus
    # norm × query norm), same NULL-safe zero guard
    denom = F.col("__cn") * F.col("__qn")
    return F.when(denom != 0.0, dot(v, F.col("__qvec")) / denom)


#: metric -> (score of a corpus vector against the joined ``__qvec``,
#: whether rank 1 is the smallest score)
_PAIR_SCORES = {
    "l2sq": (lambda v: l2sq(v, F.col("__qvec")), True),
    "cosine": (_cosine_from_norms, False),
    "dot": (lambda v: dot(v, F.col("__qvec")), False),
}


def _broadcast_cross(q: DataFrame, corpus_side: DataFrame) -> DataFrame:
    return corpus_side.crossJoin(F.broadcast(q))


def _score_pairs(
    q: DataFrame,
    corpus_side: DataFrame,
    join,
    corpus_vec_col: str,
    corpus_id_col: str,
    metric: str,
    score_col: str = "__score",
) -> tuple[DataFrame, list]:
    """The one query/corpus pair scorer. ``q`` carries ``(__qid, __qvec)``
    and ``join(q, corpus_side)`` pairs the two sides (broadcast cross or
    cell equi-join). Returns ``(scored, order)``: the narrow ``(__qid,
    corpus_id_col, score_col)`` triple and the metric's rank order, ties by
    corpus id.

    Cosine norms are computed once per side BELOW the join: the join
    boundary stops CollapseProject from inlining them into the per-pair
    expression (the r13 mining profile showed the naive form evaluating
    three interpreted 64-element folds per joined pair; with the per-pair
    work reduced to the one dot fold it is ~3× less)."""
    if metric not in _PAIR_SCORES:
        raise ValueError(
            f"metric must be 'l2sq', 'cosine' or 'dot', got {metric!r}"
        )
    score, ascending = _PAIR_SCORES[metric]
    if metric == "cosine":
        q = q.withColumn("__qn", vector_norm("__qvec"))
        corpus_side = corpus_side.withColumn("__cn", vector_norm(corpus_vec_col))
    scored = (
        join(q, corpus_side)
        .withColumn(score_col, score(F.col(corpus_vec_col)).cast("double"))
        .select("__qid", corpus_id_col, score_col)
    )
    s = F.col(score_col)
    return scored, [s.asc() if ascending else s.desc(), F.col(corpus_id_col).asc()]


def _per_query_topk(
    scored: DataFrame,
    order: list,
    k: int,
    query_id_col: str,
    corpus_id_col: str,
    *extra: Column,
) -> DataFrame:
    """Rank 1..k per ``__qid`` → ``(query_id_col, corpus_id_col, *extra,
    rank)``. The ``row_number() <= k`` filter triggers Spark's
    WindowGroupLimit rewrite, whose Partial node keeps each input
    partition's local per-query top-k map-side, below the exchange."""
    w = Window.partitionBy("__qid").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(corpus_id_col),
            *extra,
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    metric: str = "l2sq",
) -> DataFrame:
    """For every query row, the k nearest corpus rows.

    Returns ``(query_id, doc_id, rank)`` with rank 1..k (ascending distance
    for l2sq, descending similarity for cosine and dot; ties by corpus id).

    Shape: broadcast-nested-loop of the (small) query side against the
    corpus — the corpus stays put; distances are evaluated JVM-side in the
    scan stage; one exchange on query id for the exact per-query rank.
    The exchange input is already bounded by Catalyst: the
    ``row_number() <= k`` filter triggers the WindowGroupLimit rewrite
    (Spark ≥ 3.5), whose Partial node folds each input partition to its
    local per-query top-k map-side, below the exchange — the shuffle
    carries at most ``n_partitions × n_queries × k`` rows instead of
    ``n_corpus × n_queries``, entirely JVM-side (plan-asserted in
    ``tests/test_knn.py``). For huge query sides, chunk the queries and
    union, or use ``similarity.ivf_knn_join``.
    """
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")
    )
    # widen a single-split corpus scan BEFORE the broadcast cross: every
    # corpus row evaluates |q| distance folds, and a small parquet input
    # arrives as one partition, serializing that work onto one core; a
    # multi-TB scan already has hundreds of splits (no-op — util.py)
    corpus_side = ensure_parallelism(corpus)
    scored, order = _score_pairs(
        q, corpus_side, _broadcast_cross, corpus_vec_col, corpus_id_col, metric
    )
    return _per_query_topk(scored, order, k, query_id_col, corpus_id_col)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    metric: str = "cosine",
    exclude_pairs: DataFrame | None = None,
    exclude_self: bool = True,
    dup_ceiling: float | None = None,
    corpus_pred=None,
) -> DataFrame:
    """Per query, the ``k`` CLOSEST corpus rows that are NOT positives —
    hard-negative mining for contrastive training (the DPR/SimCSE recipe:
    negatives that are semantically near but known-distinct train the
    margin; random negatives are too easy). Returns ``(query_id, doc_id,
    score, rank 1..k)``.

    Exclusions are applied BEFORE the top-k cut (the semantics that makes
    the result exact — "k nearest among non-positives", not "top-k minus
    positives, possibly under-filled"):

    * ``exclude_self`` — drop the corpus row whose id equals the query id
      (the query document itself, when both sides share an id space);
    * ``exclude_pairs`` — ``(query_id_col, corpus_id_col)`` rows of KNOWN
      positives/duplicates (a labeled-pairs table, or the output of the
      near-dup family), removed with a LEFT ANTI join on the scored
      candidates;
    * ``dup_ceiling`` — drop candidates the metric says are too close to
      be negatives at all (unlabeled near-copies): similarity ≥ ceiling
      for cosine/dot, distance ≤ ceiling for l2sq.

    ``corpus_pred`` (a boolean Column) restricts the candidate POOL —
    "k nearest non-positives among matches" (mine same-language /
    same-domain / quality-gated negatives), the filtered-kNN contract
    (``db/db.go:111-143``) on the mining path; it sits below the join so
    Catalyst pushes it into the corpus scan.

    Scale shape = ``knn_join``'s: the query side broadcasts, scores
    evaluate in the corpus scan stage, exclusions are row-local filters
    plus one anti-join against the (positives-sized) pair table, and the
    per-query rank shuffles only WindowGroupLimit-bounded rows —
    ``n_partitions × n_queries × k``, never the corpus.
    """
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")
    )
    corpus_side = corpus if corpus_pred is None else corpus.filter(corpus_pred)
    # single-split guard before the per-row |q|-fold distance work (see
    # knn_join above; no-op on a many-split production scan)
    corpus_side = ensure_parallelism(corpus_side)
    scored, order = _score_pairs(
        q, corpus_side, _broadcast_cross, corpus_vec_col, corpus_id_col,
        metric, "score",
    )
    scored = _negative_exclusions(
        scored,
        "score",
        metric,
        query_id_col,
        corpus_id_col,
        exclude_pairs,
        exclude_self,
        dup_ceiling,
    )
    return _per_query_topk(
        scored, order, k, query_id_col, corpus_id_col,
        F.col("score").alias("score"),
    )


def _negative_exclusions(
    scored: DataFrame,
    score_col: str,
    metric: str,
    query_id_col: str,
    corpus_id_col: str,
    exclude_pairs: DataFrame | None,
    exclude_self: bool,
    dup_ceiling: float | None,
) -> DataFrame:
    """The hard-negative exclusion semantics, shared by the broadcast and
    the IVF-indexed miners (one body — divergence here would make the two
    paths disagree on WHICH rows are negatives): self filter, dup ceiling,
    and the labeled-pairs anti-join, all applied BEFORE the top-k cut."""
    if exclude_self:
        scored = scored.filter(F.col("__qid") != F.col(corpus_id_col))
    if dup_ceiling is not None:
        if metric == "l2sq":
            scored = scored.filter(F.col(score_col) > F.lit(float(dup_ceiling)))
        else:
            scored = scored.filter(F.col(score_col) < F.lit(float(dup_ceiling)))
    if exclude_pairs is not None:
        ex = exclude_pairs.select(
            F.col(query_id_col).alias("__qid"),
            F.col(corpus_id_col).alias(corpus_id_col),
        )
        scored = scored.join(ex, ["__qid", corpus_id_col], "left_anti")
    return scored


def contrastive_triplets(
    corpus: DataFrame,
    clusters: DataFrame,
    k_negatives: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    cells: int = 64,
    nprobe: int = 8,
    centroids: list[list[float]] | None = None,
    dup_ceiling: float | None = None,
    corpus_pred=None,
) -> DataFrame:
    """Assemble (anchor, positive, hard negatives) training triplets — the
    DPR/SimCSE data shape — from a near-dup clustering plus the indexed
    miner, end to end: every clustered doc anchors one triplet group, its
    POSITIVE is the smallest other member of its cluster (deterministic,
    replayable), and its ``k_negatives`` NEGATIVES are the closest corpus
    rows that are NOT cluster-mates (ALL co-members anti-join out before
    the top-k cut — a near-dup mislabeled as a negative poisons the
    contrastive loss, the exact failure hard-negative mining exists to
    avoid). Returns ``(anchor_id, positive_id, <id_col>, score, rank)``
    with one row per negative.

    Scale shape: positives are one self-join of the (pairs-sized) cluster
    table; negatives run through :func:`ivf_hard_negatives` (cell
    equi-join — anchors are every clustered doc, typically far past a
    broadcast), with the co-member pair set as ``exclude_pairs``.
    ``corpus_pred`` restricts the NEGATIVE pool (quality-gated /
    same-domain negatives — the miner's filtered contract; anchors and
    positives come from the cluster table and are unaffected). With
    ``nprobe == cells`` the mining stage is exact, so the whole assembly
    is oracle-checkable."""
    members = clusters.select("id", "cluster_id")
    co = (
        members.alias("a")
        .join(members.alias("b"), "cluster_id")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias(id_col),
        )
    )
    pos = co.groupBy("query_id").agg(F.min(id_col).alias("positive_id"))
    anchors = corpus.join(
        members.select(F.col("id").alias(id_col)).distinct(), id_col
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col))
    negs = ivf_hard_negatives(
        anchors,
        corpus,
        k=k_negatives,
        cells=cells,
        nprobe=nprobe,
        query_vec_col=vec_col,
        corpus_vec_col=vec_col,
        query_id_col="query_id",
        corpus_id_col=id_col,
        centroids=centroids,
        metric=metric,
        exclude_pairs=co,
        exclude_self=True,
        dup_ceiling=dup_ceiling,
        corpus_pred=corpus_pred,
    )
    return (
        negs.join(pos, "query_id")
        .select(
            F.col("query_id").alias("anchor_id"),
            "positive_id",
            F.col(id_col),
            "score",
            "rank",
        )
    )


def ivf_hard_negatives(
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
    metric: str = "cosine",
    exclude_pairs: DataFrame | None = None,
    exclude_self: bool = True,
    dup_ceiling: float | None = None,
    corpus_pred=None,
) -> DataFrame:
    """:func:`hard_negatives` at training-mining scale: contrastive-training
    pipelines mine negatives for MILLIONS of queries (every training
    example), far past what the broadcast miner's query-side replication
    tolerates. Candidates come from the IVF cell equi-join
    (``similarity.ivf_scored_candidates`` — the ``ivf_knn_join`` body: the
    corpus NEVER broadcasts and never crosses with the full query table;
    queries replicate only ``nprobe``×), then the SAME exclusion semantics
    as the exact miner — self filter, dup ceiling, labeled-pairs anti-join,
    all applied BEFORE the per-query top-k cut (shared
    ``_negative_exclusions`` body, so the two paths cannot drift).

    With ``nprobe == cells`` every cell is probed and the result is
    EXACTLY :func:`hard_negatives` (equivalence pytest-pinned; the driver
    oracle checks the full-probe form value-exactly); at partial probe the
    usual IVF recall envelope applies — a near-negative is missed only if
    it lives outside all probed cells. Returns ``(query_id, doc_id, score,
    rank 1..k)``. Pass ``centroids`` from a stored ``index_store`` sidecar
    (and a pre-assigned ``_cell`` corpus) to serve from the materialized
    index with zero corpus-side shuffle. ``corpus_pred`` restricts the
    candidate pool (same filtered-mining contract as
    :func:`hard_negatives` — the two paths stay semantics-identical);
    it filters the probed corpus INSIDE the cell join, so at partial
    probe the result is "k nearest matches within the probed cells"."""
    from kaer_spark.operators.similarity import ivf_scored_candidates

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
    scored = _negative_exclusions(
        scored,
        "__score",
        metric,
        query_id_col,
        corpus_id_col,
        exclude_pairs,
        exclude_self,
        dup_ceiling,
    )
    return _per_query_topk(
        scored, order, k, query_id_col, corpus_id_col,
        F.col("__score").alias("score"),
    )
