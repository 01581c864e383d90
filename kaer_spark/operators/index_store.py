"""Materialized vector-index tables: the Spark-native replacement for the
reference's HNSW save/load/catch-up cycle.

Reference parity (SURVEY.md §2.1): kaer checkpoints its in-RAM graph to
``{dir}/index/{collection}_{id}.hnsw`` plus a meta row ``(collection,
file, last_id, size)`` (``/root/reference/db/db.go:102-109``,
``db/meta.go:11-28``), and on reopen replays vectors with
``_m_id > checkpoint`` into the graph (``db/db.go:191-207``). Here the
"index" is an IVF layout on disk:

* **build** — fit a k-means coarse quantizer (MLlib), record ``{centroids,
  cells, dim, seed, max_id}`` in an ``index.json`` sidecar (the meta row)
  over an emptied index, and fill it with the refresh below: every vector
  is assigned to its nearest centroid *with a pure Catalyst argmin*
  (array of (dist, cell) structs → ``array_min``; narrow, no shuffle) and
  written as parquet partitioned by cell.
* **search** — pick the ``nprobe`` nearest cells driver-side from the tiny
  sidecar centroids, scan only those cell partitions (directory-level
  partition pruning — verified in tests), exact-rank inside.
* **refresh** — the catch-up scan: append vectors with ``id > meta.max_id``
  to their cells using the *stored* centroids (no refit), update the
  sidecar. Incremental, idempotent per id high-water mark.

At 100 TB the cell count scales up (√N cells is the usual rule); build is
one narrow pass + a partitioned write, search touches ``nprobe/cells`` of
the data, refresh touches only the id-range tail (which id-block file
clustering makes a file-pruned scan).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaer_spark.functions.vector import (
    double_matrix_lit,
    double_nested_lit,
    l2sq,
)
from kaer_spark.operators import similarity as S
from kaer_spark.operators.knn import _per_query_topk
from kaer_spark.operators.util import (
    flip_watermark,
    group_ranked_quantiles,
    local_frame,
    open_refresh,
    reset_index,
    watermark_health_cols,
)
from kaer_spark.sources.files import read_parquet, read_sidecar

META_FILE = "index.json"
DATA_DIR = "data"


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 16,
    seed: int = 42,
    fit: str = "kmeans",
) -> dict:
    """Build the IVF index at ``path`` and return its meta dict: fit the
    coarse quantizer, reset the index (``util.reset_index``) and fill it
    through :func:`refresh_ivf_index`.

    ``fit`` picks the coarse quantizer: ``"kmeans"`` (MLlib — best cell
    balance/recall, but iterated float sums can't replay in a SQL oracle),
    ``"deterministic"`` (smallest-id sample centroids,
    ``similarity.ivf_fit_deterministic`` — bit-exact replayable end to
    end, so an approximate ``query()`` over this index is itself
    oracle-checkable), or ``"spread"`` (hash-ordered sample,
    ``similarity.ivf_fit_spread`` — equally replayable, decorrelated from
    ingestion order for better cell balance). Search and refresh are
    fit-agnostic: both read the stored centroid literals from the sidecar.
    """
    centroids = S._fit_centroids(
        corpus, fit, ("kmeans", "deterministic", "spread"), vec_col, id_col,
        cells, seed,
    )
    reset_index(path, META_FILE, [DATA_DIR], {
        "cells": cells,
        "dim": len(centroids[0]),
        "seed": seed,
        "fit": fit,
        "id_col": id_col,
        "vec_col": vec_col,
        "max_id": None,
        "centroids": centroids,
    })
    return refresh_ivf_index(corpus, path)


def read_index_meta(path: str) -> dict:
    return read_sidecar(os.path.join(path, META_FILE))


def refresh_ivf_index(corpus: DataFrame, path: str, *, batch=None) -> dict:
    """Catch-up (reference O8, ``updateIndexFromLastId``): append vectors
    with ``id > meta.max_id`` to their cells using the stored centroids.
    A replay after a crash between the append and the watermark flip
    appends nothing twice (``util.unindexed``). ``batch`` is the id range
    an insert just wrote (``util.open_refresh``)."""
    meta = read_index_meta(path)
    data_dir = os.path.join(path, DATA_DIR)
    _, tail, new_max, guard = open_refresh(
        corpus, path, META_FILE, meta, data_dir, meta["id_col"], batch=batch
    )
    if tail is None:
        return meta
    tail = guard(tail, meta["id_col"], data_dir)
    assigned = S.ivf_assign_deterministic(tail, meta["centroids"], meta["vec_col"])
    assigned.write.mode("append").partitionBy("_cell").parquet(data_dir)
    return flip_watermark(path, META_FILE, meta, new_max)


def ivf_index_knn_join(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pred=None,
) -> DataFrame:
    """kNN JOIN against the materialized index table: the many-queries form
    of :func:`ivf_index_topk`, for query sides too large to loop (or to
    broadcast — see ``operators.similarity.ivf_knn_join``, which this
    wraps). Reuses the table's stored cell assignment — the corpus never
    recomputes a centroid argmin per join — and the sidecar centroid
    literals for query-side probing, so results match a fresh
    ``ivf_knn_join`` built with the same centroids exactly. ``pred``
    applies the metadata pre-filter inside the probed corpus (filtered
    batch ANN, same semantics as :func:`ivf_index_topk`)."""
    meta = read_index_meta(path)
    corpus = read_parquet(spark, os.path.join(path, DATA_DIR), merge_schema=True)
    return S.ivf_knn_join(
        queries,
        corpus,
        k,
        nprobe=nprobe,
        query_vec_col=query_vec_col,
        corpus_vec_col=meta["vec_col"],
        query_id_col=query_id_col,
        corpus_id_col=meta["id_col"],
        centroids=meta["centroids"],
        corpus_pred=pred,
    )


def _escalating(
    centroids: list[list[float]],
    query_vector: Sequence[float],
    nprobe: int,
    k: int,
    filtered: bool,
    search,
) -> DataFrame:
    """The one probe-doubling loop. ``search(cells)`` returns the top-k
    frame over the probed cells (``similarity.ivf_probe_cells`` order).

    * Unfiltered: the ``nprobe`` round's frame, lazy (the fixed-``nprobe``
      recall trade); construction fires no job.
    * Filtered: each round collects its answer (at most ``k`` rows, one
      Arrow fetch). A round holding fewer than ``k`` rows doubles
      ``nprobe`` until it fills or every cell is probed (full probe ≡ the
      exact filtered query): the reference's "k nearest among matches"
      (``db/db.go:111-143``) under selective filters. The filling round
      is returned as a local frame (``util.local_frame``), so the answer
      is computed once: construction runs one collect per round (a
      documented side effect), and the caller's action reads a
      ``LocalTableScan`` and fires no job."""
    order = S.ivf_probe_cells(centroids, query_vector, len(centroids))
    cur = max(1, min(int(nprobe), len(order)))
    if not filtered:
        return search(order[:cur])
    while True:
        out = search(order[:cur])
        got = out.toArrow()
        if got.num_rows >= k or cur >= len(order):
            return local_frame(out.sparkSession, got, out.schema)
        cur = min(cur * 2, len(order))


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    query_vector: Sequence[float],
    k: int,
    nprobe: int = 4,
    pred=None,
) -> DataFrame:
    """Search the materialized index: prune to the ``nprobe`` nearest cell
    partitions, exact-rank inside them (ascending l2sq, id tie-break).
    ``pred`` (a boolean Column) applies the metadata pre-filter inside the
    probed cells — the reference's filtered-ANN semantics.

    Filtered searches escalate (:func:`_escalating`): when the filtered
    probe set fills fewer than ``k`` rows, ``nprobe`` doubles until ``k``
    rows match or every cell is probed — without it a selective filter
    silently under-fills even when k matches exist in unprobed cells.
    Each round is one collect of its top-k (one Spark job over the pruned
    scan) and the answer is local: the filling round comes back as a
    ``LocalTableScan`` frame, so the caller's action fires no job. The
    common case (filter matches ≥ k in the first probe set) runs the
    probed top-k exactly once. An unfiltered search stays one lazy plan
    and fires no job at construction."""
    meta = read_index_meta(path)
    q = [float(x) for x in query_vector]
    # merge_schema: refresh appends after collection schema evolution may
    # carry fields the original build files lack (same reason Collection.df
    # merges); without it a filtered approximate query can fail to resolve
    # the predicate column or read it inconsistently. The merged schema is
    # memoised per session (sources.files), so only the first search after
    # a build or refresh pays the merge job.
    df = read_parquet(spark, os.path.join(path, DATA_DIR), merge_schema=True)

    def search(cells):
        return S._probed_topk(
            df, cells, q, k, meta["vec_col"], meta["id_col"], pred
        )

    return _escalating(meta["centroids"], q, nprobe, k, pred is not None, search)


# ---------------------------------------------------------------------------
# At-rest PQ code tables: the compressed-serving twin of the IVF index above.
# ---------------------------------------------------------------------------
PQ_META_FILE = "pq_index.json"


def build_pq_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    cells: int | None = None,
    fit: str = "deterministic",
    seed: int = 42,
    extra_meta: dict | None = None,
) -> dict:
    """Materialize the PQ code table at ``path`` — the reference's
    persisted-index cycle (``/root/reference/db/db.go:102-109``, O10/O16)
    for PRODUCT-QUANTIZED serving: codes are fit + encoded ONCE and every
    query thereafter reads only the ``(id, pq_code[, _cell])`` columns —
    m ints per vector instead of ``dim`` floats (32× less IO at m=8 /
    dim=64 float32).

    ``fit``: ``"deterministic"`` — codebooks are slices of the ``k``
    smallest-id vectors, so a SQL oracle re-derives the exact stored
    codes from the source corpus alone; ``"kmeans"`` — MLlib subspace
    k-means (recall-first, rows-only checkable). ``cells``: also
    coarse-quantize (deterministic smallest-id centroids) and PARTITION
    the code table by ``_cell`` so a probed search scans ``nprobe/cells``
    of the codes — the IVFADC layout (Jégou et al. 2011 §V).

    The build fits the codebooks (and centroids), resets the index
    (``util.reset_index``) with them in the sidecar and fills it through
    :func:`refresh_pq_index`. ``extra_meta`` entries (e.g. a source
    fingerprint) are stored verbatim for the caller's own staleness
    checks.
    """
    if fit == "deterministic":
        books = S.pq_fit_deterministic(corpus, vec_col, id_col, m, k)
    elif fit == "kmeans":
        books = S.pq_fit(corpus, vec_col, m=m, k=k, seed=seed)
    else:
        raise ValueError(f"unknown fit {fit!r}: use 'deterministic' or 'kmeans'")
    centroids = None
    if cells is not None:
        centroids = S._fit_centroids(
            corpus, fit, ("deterministic", "kmeans"), vec_col, id_col, cells, seed
        )
    reset_index(path, PQ_META_FILE, [DATA_DIR], {
        "kind": "pq",
        "m": m,
        "k": k,
        "dim": len(books[0][0]) * m,
        "fit": fit,
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        "cells": cells,
        "max_id": None,
        "codebooks": books,
        "centroids": centroids,
        **(extra_meta or {}),
    })
    return refresh_pq_index(corpus, path)


def read_pq_meta(path: str) -> dict:
    return read_sidecar(os.path.join(path, PQ_META_FILE))


def refresh_pq_index(corpus: DataFrame, path: str, *, batch=None) -> dict:
    """Catch-up (reference O8, ``updateIndexFromLastId`` — the PQ twin of
    :func:`refresh_ivf_index`): encode vectors with ``id > meta.max_id``
    under the STORED codebooks (``similarity.pq_encode``, whatever the
    fit), cell-assign them under the stored coarse centroids if any, and
    append ``(id, pq_code[, _cell])``. No refit — codes stay comparable
    across the whole table. A replay after a crash between the append
    and the watermark flip appends nothing twice (``util.unindexed``).
    ``batch`` is the id range an insert just wrote (``util.open_refresh``)."""
    meta = read_pq_meta(path)
    data_dir = os.path.join(path, DATA_DIR)
    id_col, centroids = meta["id_col"], meta["centroids"]
    _, tail, new_max, guard = open_refresh(
        corpus, path, PQ_META_FILE, meta, data_dir, id_col, batch=batch
    )
    if tail is None:
        return meta
    encoded = S.pq_encode(
        guard(tail, id_col, data_dir), meta["codebooks"], meta["vec_col"]
    )
    cols = [id_col, "pq_code"]
    if centroids is not None:
        encoded = S.ivf_assign_deterministic(encoded, centroids, meta["vec_col"])
        cols.append("_cell")
    writer = encoded.select(*cols).write.mode("append")
    if centroids is not None:
        writer = writer.partitionBy("_cell")
    writer.parquet(data_dir)
    return flip_watermark(path, PQ_META_FILE, meta, new_max)


def pq_index_topk(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    query_vector: Sequence[float],
    topk: int,
    shortlist: int = 50,
    nprobe: int | None = None,
    pred=None,
) -> DataFrame:
    """Two-stage search over the MATERIALIZED code table: ADC shortlist
    from stored codes, exact re-rank against ``corpus``'s raw vectors —
    ``similarity.pq_topk_refined`` (or ``ivf_pq_topk`` when the index has
    cells and ``nprobe`` is given) served from the at-rest index instead
    of a per-call fit+encode, value-identical to the fresh computation by
    construction (same codebooks: the deterministic fit is a function of
    the source corpus; same stored argmin codes; same driver ADC tables).

    Stage 1 scans ONLY ``(id, pq_code)`` — plus directory-level cell
    pruning when probed — and heap-selects ``shortlist`` rows
    (TakeOrderedAndProject). Stage 2 joins the ≤``shortlist`` survivors
    (broadcast — bounded by the knob, never corpus-sized) back to the raw
    vectors for the exact float64 re-rank; reported ``_score`` carries no
    quantization error. At 100 TB stage 1 touches m ints × the probed
    fraction; raw vectors are read for ``shortlist`` rows only.

    ``pred`` (a boolean Column over ``corpus``) is the reference's
    filtered-kNN contract (``db/db.go:111-143``) on the compressed path
    (r12 verdict #8): matching ids — a predicate-pushed, id-only corpus
    scan — SEMI-JOIN the code table BEFORE the ADC cut, so the shortlist
    ranks only matches ("k nearest among matches", never an under-filled
    top-k-minus-nonmatches). With cells + ``nprobe``, matches can still
    live outside the probed cells, so the search escalates
    (:func:`_escalating`, the :func:`ivf_index_topk` loop): ``nprobe``
    doubles until ``topk`` rows fill or every cell is probed. Each round
    is one collect of the re-ranked answer (``|out| = min(topk,
    |shortlist|)``, so the answer itself is the fill check) and the
    answer is local: the filling round comes back as a
    ``LocalTableScan`` frame, so the two-stage plan runs once per round
    and the caller's action fires no job. The common case runs it
    exactly once; an unfiltered or unprobed search stays one lazy plan."""
    meta = read_pq_meta(path)
    q = [float(x) for x in query_vector]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    base_codes = read_parquet(spark, os.path.join(path, DATA_DIR))
    if nprobe is not None and meta["cells"] is None:
        raise ValueError("index has no coarse cells; build with cells=")
    match_ids = None
    if pred is not None:
        match_ids = corpus.filter(pred).select(id_col)
    adc = S._adc_score(S._adc_tables(meta["codebooks"], q))

    def search(cells):
        codes = base_codes
        if cells is not None:
            codes = codes.filter(F.col("_cell").isin(cells))
        if match_ids is not None:
            codes = codes.join(match_ids, id_col, "left_semi")
        short = (
            codes.withColumn("_adc", adc)
            .orderBy(F.col("_adc").asc(), F.col(id_col).asc())
            .limit(int(shortlist))
            .select(id_col)
        )
        return S._l2_topk(
            corpus.join(F.broadcast(short), id_col), q, int(topk), vec_col, id_col
        ).select(id_col, "_score")

    if nprobe is None:
        return search(None)
    return _escalating(
        meta["centroids"], q, nprobe, int(topk), pred is not None, search
    )


def pq_index_knn_join(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    topk: int,
    shortlist: int = 50,
    nprobe: int | None = None,
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pred=None,
    max_unprobed_queries: int = 100_000,
) -> DataFrame:
    """Batch kNN JOIN served from the AT-REST code table — the
    many-queries form of :func:`pq_index_topk`, completing the compressed
    serving stack (the IVF family has :func:`ivf_index_knn_join`; this is
    its PQ twin for query tables instead of one vector per call). Returns
    ``(query_id, id, _score, rank 1..topk)``.

    Per query, stage 1 computes the ADC lookup table IN-PLAN — a compact
    higher-order fold of the stored codebooks (literals from the sidecar)
    against the query vector, evaluated once per QUERY row, never per
    corpus row — then scores every stored code via the same
    ``zip_with``-gather as the single-query path and heap-cuts
    ``shortlist`` survivors per query (``row_number`` ≤ k triggers the
    WindowGroupLimit rewrite, so the per-query exchange is bounded).
    Stage 2 re-ranks the ≤ queries×shortlist survivors against raw
    vectors in exact float64. The code table is read ONCE for the whole
    batch (m ints per vector), queries broadcast (unprobed) or explode
    ``nprobe``× onto the ``_cell`` equi-join (probed, celled index) — the
    corpus-side scan never replicates per query.

    With ``fit="deterministic"`` codebooks the whole batch — per-query
    ADC tables included — replays relationally, so the driver oracle
    value-checks every stage (``pq_knn_join``).

    ``pred`` is the filtered contract, same recipe as
    :func:`pq_index_topk`: matching ids semi-join the code table BEFORE
    the per-query shortlist cut — "k nearest among matches" for every
    query in the batch. (No nprobe escalation here: a batch can't
    escalate per-query without forking plans — pass ``nprobe=None`` for
    filtered batches, or size ``nprobe`` for the filter's selectivity.)

    The unprobed branch (``nprobe=None``) BROADCASTS the query table and
    crosses it with the code scan — correct for eval-sized batches, a
    codes×queries blow-up for a training-sized one. ``max_unprobed_queries``
    (default 100k rows — ~few hundred MB broadcast at dim 64 float64, and
    100k × corpus-codes cross work) is the geometry guard (the r12 lesson:
    guards beat docstrings): a larger unprobed query side raises with the
    fix spelled out (pass ``nprobe`` on a celled index — the query side
    then explodes nprobe× onto a cell EQUI-join and never crosses the
    corpus — or raise the knob deliberately). The count costs one bounded
    scan of the query table, paid only on the unprobed branch."""
    meta = read_pq_meta(path)
    d = meta["dim"] // meta["m"]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    books = meta["codebooks"]
    cb_lit = double_nested_lit(books)
    qv = F.col("__qvec").cast("array<double>")
    # per-(subspace, codeword) squared-L2 of the query slice — left-assoc
    # fold from 0.0, the engine-wide IEEE op order every oracle replays
    adc_table = F.transform(
        cb_lit,
        lambda book, s: F.transform(
            book,
            lambda code: F.aggregate(
                F.zip_with(
                    code,
                    F.slice(qv, s * F.lit(d) + F.lit(1), F.lit(d)),
                    lambda c, x: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        ),
    )
    qside = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec"),
    )
    qtab = qside.withColumn("__adc_table", adc_table)
    codes = read_parquet(spark, os.path.join(path, DATA_DIR))
    if pred is not None:
        codes = codes.join(
            corpus.filter(pred).select(id_col), id_col, "left_semi"
        )
    if nprobe is not None:
        if meta["cells"] is None:
            raise ValueError("index has no coarse cells; build with cells=")
        probe = S._probe("__qvec", meta["centroids"], nprobe)
        qtab = qtab.withColumn("_cell", F.explode(probe))
        scored = codes.join(F.broadcast(qtab), "_cell")
    else:
        n_queries = queries.count()
        if n_queries > int(max_unprobed_queries):
            raise ValueError(
                f"pq_index_knn_join: {n_queries} queries on the unprobed "
                f"branch exceeds max_unprobed_queries="
                f"{int(max_unprobed_queries)} — the query table would "
                "broadcast and CROSS the whole code scan. Pass nprobe= "
                "(celled index: the queries equi-join on _cell instead), "
                "or raise max_unprobed_queries deliberately."
            )
        scored = codes.crossJoin(F.broadcast(qtab))
    adc = S._adc_score(F.col("__adc_table")).alias("_adc")
    short = _per_query_topk(
        scored.select("__qid", id_col, adc),
        [F.col("_adc").asc(), F.col(id_col).asc()], shortlist, "__qid", id_col,
    ).drop("rank")
    rerank = (
        corpus.join(F.broadcast(short), id_col)
        .join(F.broadcast(qside), "__qid")
        .withColumn("_score", l2sq(vec_col, F.col("__qvec")))
    )
    return _per_query_topk(
        rerank, [F.col("_score").asc(), F.col(id_col).asc()], topk,
        query_id_col, id_col, F.col("_score"),
    )


def ivf_index_stats(
    spark: SparkSession,
    path: str,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Health report for an at-rest IVF index — the observability the
    frozen-geometry refresh contract needs at 100 TB: :func:`refresh_ivf_index`
    assigns new vectors to the STORED centroids (no refit — the reference's
    own O8 semantics, ``db/db.go:191-207``), which is correct and keeps
    results comparable, but under distribution drift the cells skew and
    probed recall decays silently. kaer has the same blind spot (its HNSW
    never rebalances); this closes it with a pure relational pass over the
    index table — one scan, one count aggregate, two rank lookups.

    One row per NON-EMPTY cell (an absent cell id is itself a signal —
    that centroid attracts nothing):

    * ``n_vectors``, ``size_frac`` — cell-size histogram;
    * ``skew`` — ``n / (total / cells)``; a perfectly balanced index reads
      1.0 everywhere, and ``oversized`` flags ``skew > 2.0``;
    * ``p50_resid`` / ``p90_resid`` / ``max_resid`` — residual (squared L2
      to the row's STORED cell centroid) at the rank-based type-1
      quantiles ``ceil(n/2)`` / ``ceil(0.9 n)`` — pure selection, no
      interpolation arithmetic, so the figures replay bit-exactly in a
      SQL oracle;
    * ``watermark`` (+ ``watermark_lag`` when ``corpus`` is given) —
      ingest staleness of the index vs the live corpus.

    REBUILD TRIGGER (documented policy, deliberately not automated —
    rebuild cost is an operator decision): re-fit the coarse quantizer
    when any cell reads ``oversized`` (probe cost on that cell is ≥2× the
    balanced design point, and it keeps absorbing its neighborhood's new
    vectors), or when ``p90_resid`` grows materially above the build-time
    baseline row for the same cell (the stored centroids no longer
    describe the data — probed recall is decaying). Compare against a
    SNAPSHOT of this report taken at build time; the report is cheap
    enough to run per refresh."""
    meta = read_index_meta(path)
    data = read_parquet(spark, os.path.join(path, DATA_DIR))
    cents = double_matrix_lit(meta["centroids"])
    resid = l2sq(
        meta["vec_col"],
        F.element_at(cents, F.col("_cell").cast("int") + F.lit(1)),
    )
    per_cell = group_ranked_quantiles(
        data.select(
            F.col("_cell").cast("int").alias("cell"),
            F.col(meta["id_col"]).alias("_id"),
            resid.alias("_resid"),
        ),
        "cell", "_resid", "_id",
        "n_vectors", "max_resid", "p50_resid", "p90_resid",
    )
    tot = per_cell.agg(F.sum("n_vectors").alias("_tot"))
    out = (
        per_cell.crossJoin(F.broadcast(tot))
        .withColumn(
            "size_frac", F.col("n_vectors").cast("double") / F.col("_tot")
        )
        .withColumn(
            "skew",
            (F.col("n_vectors") * F.lit(int(meta["cells"]))).cast("double")
            / F.col("_tot"),
        )
        .withColumn("oversized", F.col("skew") > F.lit(2.0))
        .drop("_tot")
    )
    return watermark_health_cols(out, meta["max_id"], corpus, meta["id_col"])


def pq_index_stats(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    corpus_id_col: str | None = None,
    corpus_vec_col: str | None = None,
) -> DataFrame:
    """Health report for an at-rest PQ code table — the compressed twin of
    :func:`ivf_index_stats`: :func:`refresh_pq_index` encodes new vectors
    under the FROZEN codebooks, so under drift the reconstruction error of
    the stored codes creeps up and ADC rankings silently lose fidelity.
    This measures exactly that: each stored code is decoded against the
    SIDECAR codebooks and compared to the live vector (join on id — the
    code table stores no vectors, by design), giving per-group

    ``n_codes`` and ``p50_err`` / ``p90_err`` / ``max_err`` — the
    reconstruction squared-L2 at the same rank-based type-1 quantiles as
    the IVF report (bit-exact replayable) — plus ``watermark`` /
    ``watermark_lag``. Grouped per coarse cell when the index is IVFADC
    (``cells`` in the sidecar); one row with ``cell = -1`` otherwise.
    Because the error is computed from the STORED codes (not a fresh
    argmin encode), a corrupted or stale code table shows up here too —
    and in the SQL oracle gate, where the replayed encode would disagree.

    REBUILD TRIGGER (documented policy): re-fit codebooks when ``p90_err``
    grows materially above the build-time snapshot — quantization error is
    the direct bound on ADC ranking fidelity (Jégou et al. 2011 §III), so
    unlike cell skew there is no second-order symptom to wait for.

    Scale note: the exact rank-based quantiles sort WITHIN each group, so
    on an IVFADC table (``cells`` set) the sort is cell-bounded; a
    no-cells table ranks in ONE group — a global sort, fine for the
    no-cells layout's intended size but the wrong tool at 100 TB (where
    the code table should be cell-partitioned anyway, and is)."""
    meta = read_pq_meta(path)
    icol = corpus_id_col or meta["id_col"]
    vcol = corpus_vec_col or meta["vec_col"]
    books = meta["codebooks"]
    m, d = len(books), len(books[0][0])
    codes = read_parquet(spark, os.path.join(path, DATA_DIR))
    joined = codes.join(
        corpus.select(
            F.col(icol).alias(meta["id_col"]),
            F.col(vcol).cast("array<double>").alias("__vec"),
        ),
        meta["id_col"],
    )
    err = None
    for s in range(m):
        book_s = double_matrix_lit(books[s])
        cent = F.element_at(
            book_s, F.element_at(F.col("pq_code"), s + 1) + F.lit(1)
        )
        e_s = l2sq(F.slice(F.col("__vec"), s * d + 1, d), cent)
        err = e_s if err is None else err + e_s
    cell = (
        F.col("_cell").cast("int")
        if meta.get("cells") is not None
        else F.lit(-1).cast("int")
    )
    per_cell = group_ranked_quantiles(
        joined.select(
            cell.alias("cell"),
            F.col(meta["id_col"]).alias("_id"),
            err.alias("_err"),
        ),
        "cell", "_err", "_id",
        "n_codes", "max_err", "p50_err", "p90_err",
    )
    return watermark_health_cols(per_cell, meta["max_id"], corpus, icol)
