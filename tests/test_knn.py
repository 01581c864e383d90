"""Exact kNN (F-Q2 matrix) vs DuckDB, kNN join, and plan-shape checks."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from kaer_spark.filters import filter_to_sql
from kaer_spark.functions.vector import cosine_similarity, dot, l2sq
from kaer_spark.operators.knn import exact_knn, knn_join

# deterministic fixture query vector (dim 64), literal in both engines
QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def _duck_l2sq(vec_expr: str, q: list[float]) -> str:
    terms = " + ".join(
        f"(CAST({vec_expr}[{i + 1}] AS DOUBLE) - ({v!r}))^2" for i, v in enumerate(q)
    )
    return f"({terms})"


FILTERS = [
    ({}, [1, 5, 50]),
    ({"lang": {"$eq": "de"}}, [1, 5, 50]),
    ({"source": {"$in": ["src1", "src2", "src3"]}}, [5]),
    ({"n_chars": {"$gt": 250}}, [5]),
    ({"$and": [{"lang": "en"}, {"n_chars": {"$lte": 300}}]}, [5]),
    ({"$or": [{"lang": "zh"}, {"source": "src5"}]}, [5]),
    ({"lang": {"$ne": "en"}}, [5]),
]


@pytest.mark.parametrize(
    "filt,ks", FILTERS, ids=[str(f)[:40] for f, _ in FILTERS]
)
def test_fq2_filtered_knn_vs_duckdb(corpus, sf_dir, filt, ks):
    for k in ks:
        got = [
            r[0]
            for r in exact_knn(
                corpus, QVEC, k, vec_col="embedding", id_col="doc_id", filter=filt
            )
            .select("doc_id")
            .collect()
        ]
        want = [
            r[0]
            for r in duckdb.sql(
                f"""
                SELECT d.doc_id
                FROM '{sf_dir}/documents.parquet' d
                JOIN '{sf_dir}/embeddings.parquet' e ON d.doc_id = e.vec_id
                WHERE {filter_to_sql(filt)}
                ORDER BY {_duck_l2sq('e.embedding', QVEC)}, d.doc_id
                LIMIT {k}
                """
            ).fetchall()
        ]
        assert got == want, f"filter={filt} k={k}"


def test_vector_functions_vs_numpy(embeddings):
    import numpy as np

    rows = (
        embeddings.withColumn("d", l2sq("embedding", QVEC))
        .withColumn("dp", dot("embedding", QVEC))
        .withColumn("cos", cosine_similarity("embedding", QVEC))
        .select("embedding", "d", "dp", "cos")
        .limit(20)
        .collect()
    )
    q = np.array(QVEC)
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        assert abs(r["d"] - float(((v - q) ** 2).sum())) < 1e-9
        assert abs(r["dp"] - float(v @ q)) < 1e-9
        expect_cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert abs(r["cos"] - expect_cos) < 1e-9


def test_cached_expr_is_thread_safe(spark, monkeypatch):
    """Several threads building expressions concurrently past the LRU
    bound (hits, misses and evictions interleaved on shared keys): no
    call raises, each returns the expression it asked for, and the cache
    stays bounded."""
    import threading
    import time
    from collections import OrderedDict

    import kaer_spark.functions.vector as V

    class YieldingLRU(OrderedDict):
        # hand the GIL to another thread between the lookup and the LRU
        # update — the window an unguarded cache loses keys in
        def get(self, key, default=None):
            val = super().get(key, default)
            time.sleep(0.0005)
            return val

    monkeypatch.setattr(V, "_EXPR_CACHE_MAX", 8)
    monkeypatch.setattr(V, "_expr_cache", YieldingLRU())
    # restored with the cache, so the two stay consistent after the test
    monkeypatch.setattr(V, "_expr_cache_ctx", V._expr_cache_ctx)
    errors = []

    def build(t):
        try:
            for i in range(80):
                k = (t * 7 + i) % 16
                col = V.cached_expr(f"{k} + 1")
                assert f"'{k} + 1'" in str(col)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=build, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(V._expr_cache) <= 8


def test_knn_join_matches_per_query_exact(corpus, embeddings):
    queries = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") < 3)
    for metric in ("l2sq", "cosine"):
        out = knn_join(
            queries,
            corpus,
            k=4,
            query_id_col="vec_id",
            corpus_id_col="doc_id",
            metric=metric,
        )
        got = {
            (r["vec_id"], r["rank"]): r["doc_id"] for r in out.collect()
        }
        for qid in range(3):
            qvec = (
                embeddings.filter(F.col("vec_id") == qid).select("embedding").collect()
            )[0][0]
            expected = [
                r[0]
                for r in exact_knn(
                    corpus, list(qvec), 4, vec_col="embedding", id_col="doc_id",
                    metric=metric,
                )
                .select("doc_id")
                .collect()
            ]
            assert [got[(qid, rank)] for rank in range(1, 5)] == expected, metric
        # rank 1 of each query is the query row itself (distance 0)
        if metric == "l2sq":
            for qid in range(3):
                assert got[(qid, 1)] == qid


def test_knn_plan_is_top_k_not_global_sort(corpus):
    plan = exact_knn(
        corpus, QVEC, 5, vec_col="embedding", id_col="doc_id", filter={"lang": "en"}
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_exact_knn_cosine_metric(corpus):
    """Cosine ranks descending-similarity; verify against a NumPy oracle."""
    import numpy as np

    from kaer_spark.operators.knn import exact_knn

    q = [0.1] * 64
    out = exact_knn(
        corpus, q, 5, vec_col="embedding", id_col="doc_id",
        metric="cosine", dist_col="cos", keep_dist=True,
    ).select("doc_id", "cos").collect()
    rows = corpus.select("doc_id", "embedding").collect()
    qv = np.array(q)
    sims = sorted(
        (
            float(np.dot(r["embedding"], qv) / (np.linalg.norm(r["embedding"]) * np.linalg.norm(qv))),
            -r["doc_id"],
        )
        for r in rows
    )
    want = [-i for _, i in [s for s in reversed(sims)][:5]]
    assert [r["doc_id"] for r in out] == want
    assert all(out[i]["cos"] >= out[i + 1]["cos"] for i in range(len(out) - 1))


def test_knn_join_pruned_equals_unpruned(corpus, embeddings):
    """Candidate pruning is a pure optimization: bit-identical results.
    The pruned plan is the default (Catalyst's map-side WindowGroupLimit
    below the qid exchange); the unpruned one turns that rewrite off, so
    every scored pair crosses the exchange."""
    queries = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") < 3)
    kw = dict(query_id_col="vec_id", corpus_id_col="doc_id")
    conf = corpus.sparkSession.conf
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    snap = lambda df: sorted(tuple(r) for r in df.collect())
    for metric in ("l2sq", "cosine"):
        pruned = knn_join(queries, corpus, k=4, metric=metric, **kw)
        assert "WindowGroupLimit" in (
            pruned._jdf.queryExecution().executedPlan().toString()
        )
        want = snap(pruned)
        old = conf.get(key)
        conf.set(key, "-1")
        try:
            full = knn_join(queries, corpus, k=4, metric=metric, **kw)
            assert "WindowGroupLimit" not in (
                full._jdf.queryExecution().executedPlan().toString()
            )
            got = snap(full)
        finally:
            conf.set(key, old)
        assert got == want, metric


def test_knn_join_prunes_before_exchange_jvm(corpus, embeddings):
    """Default plan: the pre-exchange bound comes from Catalyst's
    WindowGroupLimit rewrite (SPARK-37099) — a Partial group-limit node
    must sit BELOW the qid Exchange (plans print top-down, so Exchange
    appears before the Partial node in the string), and the whole plan
    must be Python-free: no Arrow/pandas stage anywhere."""
    queries = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") < 3)
    plan = (
        knn_join(queries, corpus, k=4, query_id_col="vec_id", corpus_id_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for python_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert python_node not in plan, python_node
    partial = plan.index("WindowGroupLimit")
    assert "Partial" in plan[partial:], plan
    exchanges = [
        i for i in range(len(plan)) if plan.startswith("Exchange hashpartitioning", i)
    ]
    # exactly one hash exchange (the qid window), consuming the output of
    # the map-side Partial WindowGroupLimit printed below it
    assert len(exchanges) == 1
    partial_node = plan.index(", Partial")
    assert exchanges[0] < partial_node


def test_exact_knn_dot_metric(spark):
    """MIPS: descending inner product, ties to min id; disagrees with
    cosine when magnitudes differ (the reason it's a separate metric)."""
    from kaer_spark.operators.knn import exact_knn

    rows = [
        (1, [1.0, 0.0]),    # dot 1, cos 1
        (2, [10.0, -1.0]),  # dot 10, cos < 1
        (3, [0.5, 0.5]),    # dot 0.5
        (4, [-3.0, 0.0]),   # dot -3
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = exact_knn(
        df, [1.0, 0.0], 3, vec_col="vec", id_col="id",
        metric="dot", dist_col="dot", keep_dist=True,
    ).collect()
    assert [r["id"] for r in got] == [2, 1, 3]
    assert [r["dot"] for r in got] == [10.0, 1.0, 0.5]
    # cosine would rank 1 before 2 — dot is magnitude-sensitive
    from kaer_spark.operators.knn import knn_join

    q = spark.createDataFrame([(7, [1.0, 0.0])], "query_id long, embedding array<double>")
    c = df.select(F.col("id").alias("doc_id"), F.col("vec").alias("embedding"))
    j = knn_join(q, c, k=2, metric="dot").collect()
    assert [(r["doc_id"], r["rank"]) for r in sorted(j, key=lambda r: r["rank"])] == [(2, 1), (1, 2)]


def test_hard_negatives_semantics(spark, embeddings):
    """Exclusions apply BEFORE the top-k cut (k nearest among
    non-positives): self is never returned, excluded pairs are never
    returned, a dup ceiling removes near-copies, and the result still
    fills k rows per query from the remaining pool."""
    from pyspark.sql import functions as F

    from kaer_spark.operators.knn import hard_negatives, knn_join

    queries = (
        embeddings.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + 7) for q in range(3)], "query_id long, doc_id long"
    )
    out = hard_negatives(
        queries, corpus, k=5, metric="cosine",
        exclude_pairs=ex, exclude_self=True, dup_ceiling=0.999,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        ids = [r["doc_id"] for r in rows]
        assert q not in ids                      # self excluded
        assert q + 7 not in ids                  # labeled positive excluded
        assert all(r["score"] < 0.999 for r in rows)
        assert [r["rank"] for r in sorted(rows, key=lambda r: -r["score"])] == [1,2,3,4,5]

    # with no exclusions the top-k equals knn_join's ranking (cosine)
    plain = hard_negatives(
        queries, corpus, k=4, metric="cosine", exclude_self=False
    ).select("query_id", "doc_id", "rank")
    kj = knn_join(
        queries, corpus, k=4, corpus_id_col="doc_id", metric="cosine"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, kj.collect()))


def test_ivf_hard_negatives_full_probe_equals_exact(spark, embeddings):
    """nprobe == cells probes every cell, so the indexed miner must equal
    the broadcast miner EXACTLY — same exclusions (self, labeled pairs,
    dup ceiling), same scores, same tie breaks."""
    from kaer_spark.operators.knn import hard_negatives, ivf_hard_negatives

    queries = (
        embeddings.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + 7) for q in range(4)], "query_id long, doc_id long"
    )
    kwargs = dict(
        k=5, metric="cosine", exclude_pairs=ex,
        exclude_self=True, dup_ceiling=0.999,
    )
    exact = hard_negatives(queries, corpus, **kwargs)
    indexed = ivf_hard_negatives(
        queries, corpus, cells=8, nprobe=8, **kwargs
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, indexed.collect())
    )


def test_ivf_hard_negatives_partial_probe_no_corpus_broadcast(spark, embeddings):
    """Partial probe fills k rows per query and the plan is the cell
    EQUI-join — never a broadcast-nested-loop of the corpus against the
    query table (the property that makes it the million-query path)."""
    from kaer_spark.operators.knn import ivf_hard_negatives
    from kaer_spark.plans.inspect import formatted_plan

    queries = (
        embeddings.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    out = ivf_hard_negatives(
        queries, corpus, k=5, cells=8, nprobe=3, metric="cosine",
        dup_ceiling=0.999,
    )
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert q not in [r["doc_id"] for r in rs]
        assert all(r["score"] < 0.999 for r in rs)


def test_contrastive_triplets_assembly(spark, embeddings):
    """Triplet assembly: every clustered doc anchors a group, the positive
    is the min other cluster member, no negative is a cluster-mate or the
    anchor itself, and full probe makes the negatives the exact k nearest
    non-co-members."""
    from kaer_spark.operators.knn import contrastive_triplets, hard_negatives

    clusters = spark.createDataFrame(
        [(0, 0), (3, 0), (9, 0), (12, 12), (17, 12)],
        "id long, cluster_id long",
    )
    out = contrastive_triplets(
        embeddings.select("vec_id", "embedding"), clusters,
        k_negatives=4, cells=8, nprobe=8,
    ).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(by_anchor) == {0, 3, 9, 12, 17}
    pos_want = {0: 3, 3: 0, 9: 0, 12: 17, 17: 12}
    mates = {0: {0, 3, 9}, 3: {0, 3, 9}, 9: {0, 3, 9}, 12: {12, 17}, 17: {12, 17}}
    for a, rows in by_anchor.items():
        assert len(rows) == 4
        assert all(r["positive_id"] == pos_want[a] for r in rows)
        assert not ({r["vec_id"] for r in rows} & mates[a])
    # exact parity: negatives == hard_negatives with the co-member pairs
    co = spark.createDataFrame(
        [(a, b) for a, ms in mates.items() for b in ms if b != a],
        "query_id long, vec_id long",
    )
    anchors = embeddings.filter(F.col("vec_id").isin(list(mates))).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = hard_negatives(
        anchors, embeddings.select("vec_id", "embedding"), k=4,
        corpus_id_col="vec_id", metric="cosine", exclude_pairs=co,
    ).collect()
    assert sorted((r["anchor_id"], r["vec_id"], r["rank"]) for r in out) == sorted(
        (r["query_id"], r["vec_id"], r["rank"]) for r in exact
    )


def test_hard_negatives_filtered_pool(spark, embeddings):
    """corpus_pred restricts the candidate POOL before the cut (filtered
    mining, r14): every returned negative matches the predicate, the
    filtered full-probe IVF miner equals the filtered broadcast miner
    exactly, and ranks stay dense 1..k (k nearest AMONG matches, never a
    filtered-out remainder)."""
    from kaer_spark.operators.knn import hard_negatives, ivf_hard_negatives

    queries = (
        embeddings.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    ex = spark.createDataFrame(
        [(q, q + 7) for q in range(4)], "query_id long, doc_id long"
    )
    pred = F.col("doc_id") % 3 != 0
    kwargs = dict(
        k=5, metric="cosine", exclude_pairs=ex,
        exclude_self=True, dup_ceiling=0.999, corpus_pred=pred,
    )
    exact = hard_negatives(queries, corpus, **kwargs)
    rows = exact.collect()
    assert rows and all(r["doc_id"] % 3 != 0 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    indexed = ivf_hard_negatives(
        queries, corpus, cells=8, nprobe=8, **kwargs
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, indexed.collect()))


def test_contrastive_triplets_filtered_negative_pool(spark, embeddings):
    """corpus_pred restricts the NEGATIVE pool only: every mined negative
    matches the predicate, anchors/positives (cluster-driven) are
    unchanged vs the unfiltered assembly."""
    from kaer_spark.operators.knn import contrastive_triplets

    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (5, 5), (6, 5)], "id long, cluster_id long"
    )
    base = contrastive_triplets(
        embeddings.select("vec_id", "embedding"), clusters,
        k_negatives=3, cells=4, nprobe=4, metric="cosine",
    ).collect()
    filt = contrastive_triplets(
        embeddings.select("vec_id", "embedding"), clusters,
        k_negatives=3, cells=4, nprobe=4, metric="cosine",
        corpus_pred=F.col("vec_id") % 2 == 0,
    ).collect()
    assert filt and all(r["vec_id"] % 2 == 0 for r in filt)
    assert {(r["anchor_id"], r["positive_id"]) for r in filt} == {
        (r["anchor_id"], r["positive_id"]) for r in base
    }
