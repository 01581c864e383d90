"""Approximate similarity paths (MLlib LSH, IVF) validated by recall@k
against the exact brute-force oracle — never by hash match (SURVEY §5.2)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kaer_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_fit,
    ivf_topk,
    lsh_index,
    lsh_topk,
    recall_at_k,
)

QVEC = [((i * 29) % 17 - 8) / 8.0 for i in range(64)]


def test_brute_force_topk_deterministic(embeddings):
    a = [r["vec_id"] for r in brute_force_topk(embeddings, QVEC, 10, metric="l2sq").collect()]
    b = [r["vec_id"] for r in brute_force_topk(embeddings, QVEC, 10, metric="l2sq").collect()]
    assert a == b and len(a) == 10


def test_lsh_recall(embeddings):
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    model, indexed = lsh_index(embeddings, bucket_length=5.0, num_hash_tables=4)
    approx = lsh_topk(model, indexed, QVEC, 10)
    r = recall_at_k(approx, exact, "vec_id")
    assert r >= 0.5, f"LSH recall@10 too low: {r}"


def test_ivf_recall_and_pruning(embeddings):
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    model = ivf_fit(embeddings, cells=8)
    assigned = ivf_assign(model, embeddings).persist()
    # probing all cells must equal exact
    full = ivf_topk(model, assigned, QVEC, 10, nprobe=8)
    assert recall_at_k(full, exact, "vec_id") == 1.0
    # probing fewer cells trades recall for touched data
    part = ivf_topk(model, assigned, QVEC, 10, nprobe=3)
    r = recall_at_k(part, exact, "vec_id")
    assert r >= 0.3, f"IVF nprobe=3 recall@10: {r}"
    # pruning really prunes: candidate set smaller than corpus
    probed = ivf_topk(model, assigned, QVEC, 500, nprobe=3).count()
    assert probed < embeddings.count()


def test_lsh_similarity_join(embeddings):
    from kaer_spark.operators.similarity import lsh_similarity_join

    model, indexed = lsh_index(embeddings, bucket_length=5.0, num_hash_tables=4)
    left = indexed.filter(F.col("vec_id") < 20)
    out = lsh_similarity_join(model, left, indexed, threshold=8.0)
    pairs = out.select(
        F.col("datasetA.vec_id").alias("a"), F.col("datasetB.vec_id").alias("b"), "dist"
    ).collect()
    # self-pairs at distance 0 must be present
    selfs = {r["a"] for r in pairs if r["a"] == r["b"] and r["dist"] == 0.0}
    assert selfs == set(range(20))


def test_ivf_recall_sweep_monotone(spark, embeddings, sf_dir):
    """The driver's ivf_recall_sweep entry: recall@10 must be non-decreasing
    in nprobe and exactly 1.0 when every cell is probed (nprobe = cells ⇒
    the IVF result IS the exact result)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows = sorted(
        (r["nprobe"], r["recall"])
        for r in mod.queries()["ivf_recall_sweep"](spark, sf_dir).collect()
    )
    assert [n for n, _ in rows] == [1, 2, 4, 8]
    recalls = [r for _, r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0  # nprobe == cells: exhaustive


def test_pq_adc_self_exactness_and_shape(spark, embeddings):
    """A vector assembled purely from codebook centroids has ADC distance
    exactly 0.0 to itself — pins the lookup-table arithmetic; codes are
    m ints in [0, k)."""
    from kaer_spark.operators.similarity import pq_encode, pq_fit, pq_topk

    books = pq_fit(embeddings, m=8, k=16)
    syn = [c for j in range(8) for c in books[j][3]]
    df = spark.createDataFrame([(7, syn)], "vec_id long, embedding array<double>")
    enc = pq_encode(df, books)
    row = enc.collect()[0]
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 16 for c in row["pq_code"])
    top = pq_topk(enc, books, syn, k=1).collect()[0]
    assert top["vec_id"] == 7 and top["_score"] == 0.0


def test_pq_recall_on_fixture(spark, embeddings):
    """Recall@10 vs exact on the (near-random) fixture embeddings: PQ at
    m=8/k=64 lands ~0.37 here — gated loosely at ≥0.2, far above the 0.02
    random baseline. Determinism: two scoring runs agree exactly."""
    from kaer_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_fit,
        pq_topk,
    )

    qvec = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    books = pq_fit(embeddings, m=8, k=64)
    enc = pq_encode(embeddings, books).cache()
    try:
        total = 0.0
        queries = [qvec, [-x for x in qvec], qvec[32:] + qvec[:32]]
        for qv in queries:
            exact = {r[0] for r in brute_force_topk(embeddings, qv, k=10).select("vec_id").collect()}
            a1 = [tuple(r) for r in pq_topk(enc, books, qv, k=10).collect()]
            a2 = [tuple(r) for r in pq_topk(enc, books, qv, k=10).collect()]
            assert a1 == a2  # deterministic scoring + id tie-break
            total += len({t[0] for t in a1} & exact) / 10
        assert total / len(queries) >= 0.2
    finally:
        enc.unpersist()


def test_pq_perfect_on_clustered_data(spark):
    """When the data HAS structure (well-separated clusters), PQ must find
    it: query = a cluster template → top-k are exactly that cluster."""
    from kaer_spark.operators.similarity import pq_encode, pq_fit, pq_topk

    templates = [[float(10 * ((t + j) % 5)) for j in range(64)] for t in range(5)]
    rows = []
    for i in range(100):
        t = i % 5
        jitter = [((i * 31 + s) % 7 - 3) / 100.0 for s in range(64)]
        rows.append((i, [a + b for a, b in zip(templates[t], jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_fit(df, m=8, k=8)
    enc = pq_encode(df, books)
    got = {r["vec_id"] for r in pq_topk(enc, books, templates[2], k=20).collect()}
    assert got == {i for i in range(100) if i % 5 == 2}


def test_sq_roundtrip_error_bound_and_recall(spark, embeddings):
    """int8 SQ: codes in [0,255]; per-dim decode error <= step/2; recall@10
    vs exact is ~1.0 on the fixture (8-bit is fine-grained vs the data's
    distance spread)."""
    from kaer_spark.operators.similarity import (
        brute_force_topk,
        sq_encode,
        sq_fit,
        sq_topk,
    )

    mins, maxs = sq_fit(embeddings)
    assert len(mins) == len(maxs) == 64 and all(
        M > m for m, M in zip(mins, maxs)
    )
    enc = sq_encode(embeddings, mins, maxs)
    bounds = enc.select(
        F.min(F.array_min("sq_code")).alias("lo"),
        F.max(F.array_max("sq_code")).alias("hi"),
    ).first()
    assert bounds["lo"] >= 0 and bounds["hi"] <= 255

    # decode error bound: |v - decode(code)| <= step/2 per dim (+ eps)
    row = embeddings.select("vec_id", "embedding").first()
    code = enc.filter(F.col("vec_id") == row["vec_id"]).first()["sq_code"]
    for i, (v, c) in enumerate(zip(row["embedding"], code)):
        step = (maxs[i] - mins[i]) / 255.0
        assert abs(float(v) - (mins[i] + c * step)) <= step / 2 + 1e-9

    q = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    approx = [r["vec_id"] for r in sq_topk(enc, mins, maxs, q, 10).collect()]
    exact = [r["vec_id"] for r in brute_force_topk(embeddings, q, 10).collect()]
    assert len(set(approx) & set(exact)) >= 9


def test_sq_degenerate_dim_and_clamp(spark):
    """Constant dims quantize to code 0 / decode to min (no div-by-zero);
    out-of-fit-range vectors clamp into [0, 255]."""
    from kaer_spark.operators.similarity import sq_encode, sq_fit, sq_topk

    df = spark.createDataFrame(
        [(1, [0.0, 5.0]), (2, [0.0, 7.0]), (3, [0.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    mins, maxs = sq_fit(df)
    assert mins[0] == maxs[0] == 0.0
    enc = sq_encode(df, mins, maxs)
    codes = {r["vec_id"]: r["sq_code"] for r in enc.collect()}
    assert all(c[0] == 0 for c in codes.values())
    assert codes[1][1] == 0 and codes[2][1] == 255

    # out-of-range vector (not in the fitted corpus) clamps, not wraps
    out = spark.createDataFrame(
        [(9, [100.0, -100.0])], "vec_id long, embedding array<float>"
    )
    oc = sq_encode(out, mins, maxs).first()["sq_code"]
    assert oc == [0, 0]  # dim0 degenerate->0; dim1 below min -> clamped 0

    top = sq_topk(enc, mins, maxs, [0.0, 5.0], 2).collect()
    assert [r["vec_id"] for r in top] == [1, 3]


def test_sq_scan_reads_only_codes(spark, embeddings):
    """The scoring scan must not touch the float vector column."""
    from kaer_spark.operators.similarity import sq_encode, sq_fit, sq_topk

    mins, maxs = sq_fit(embeddings)
    enc = sq_encode(embeddings, mins, maxs).localCheckpoint()
    q = [0.0] * 64
    plan = sq_topk(enc, mins, maxs, q, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert "embedding" not in plan


def test_ivf_deterministic_recall_and_full_probe_exact(spark, sf_dir):
    """Deterministic IVF: nprobe=cells must equal the exact top-k; partial
    probes trade recall, measured against brute force."""
    from kaer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_deterministic,
        recall_at_k,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    exact = brute_force_topk(embs, q, 10, metric="l2sq")
    full = ivf_topk_deterministic(embs, q, 10, cells=8, nprobe=8)
    assert recall_at_k(full, exact, "vec_id") == 1.0
    part = ivf_topk_deterministic(embs, q, 10, cells=8, nprobe=3)
    assert part.count() == 10
    assert recall_at_k(part, exact, "vec_id") >= 0.2
    # the ranking stage is a top-k heap, not a global sort
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_signlsh_topk_candidates_and_scores(spark, sf_dir):
    """Sign-LSH top-k: results are real corpus rows scored by exact cosine,
    every result shares >= 1 band key with the query, and the probe is
    deterministic across runs."""
    from kaer_spark.operators.dedup import signlsh_band_key, signlsh_planes
    from kaer_spark.operators.similarity import signlsh_query_keys, signlsh_topk
    from pyspark.sql import functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    out = signlsh_topk(embs, q, 10, bands=4, bits_per_band=4).collect()
    assert 0 < len(out) <= 10
    planes = signlsh_planes(64, 16)
    qkeys = signlsh_query_keys(q, planes, 4, 4)
    ids = [r["vec_id"] for r in out]
    keyed = embs.filter(F.col("vec_id").isin(ids)).select(
        "vec_id",
        *[
            signlsh_band_key("embedding", planes[b * 4 : (b + 1) * 4]).alias(f"k{b}")
            for b in range(4)
        ],
    ).collect()
    for r in keyed:
        assert any(r[f"k{b}"] == qkeys[b] for b in range(4)), r
    scores = [r["_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    again = [r["vec_id"] for r in signlsh_topk(embs, q, 10, bands=4, bits_per_band=4).collect()]
    assert ids == again


def test_pq_deterministic_adc_self_exactness(spark, sf_dir):
    """A codebook row encodes to itself (distance-0 centroids), so its ADC
    distance is the true slice-grouped l2sq to the query — bit-exact
    against the same Python fold (NOT the flat 64-term fold, whose
    different association rounds differently in the last ulp); and equal to
    the exact distance within float tolerance."""
    from kaer_spark.operators.similarity import pq_topk_deterministic, py_l2sq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    out = pq_topk_deterministic(embs, q, topk=500, m=8, k=16).collect()
    assert len(out) == embs.count()
    adc = {r["vec_id"]: r["_score"] for r in out}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embs.filter(F.col("vec_id") < 16).collect()
    }
    for vid, v in vecs.items():
        want = 0.0
        for j in range(8):
            want = want + py_l2sq(q[j * 8 : (j + 1) * 8], v[j * 8 : (j + 1) * 8])
        assert adc[vid] == want, (vid, adc[vid], want)
        assert adc[vid] == pytest.approx(py_l2sq(q, v), rel=1e-12)
    # deterministic on re-run
    again = {
        r["vec_id"]: r["_score"]
        for r in pq_topk_deterministic(embs, q, topk=500, m=8, k=16).collect()
    }
    assert adc == again


def test_ivf_knn_join_full_probe_equals_exact(spark, embeddings):
    """nprobe=cells degrades to the exact kNN join: every query joins every
    cell, so results must equal knn_join's (query_id, doc_id, rank) set."""
    from kaer_spark.operators.knn import knn_join
    from kaer_spark.operators.similarity import ivf_knn_join

    queries = (
        embeddings.orderBy("vec_id").limit(20)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(queries, embeddings, k=5, corpus_id_col="vec_id").collect()
    }
    approx = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_knn_join(
            queries, embeddings, k=5, cells=4, nprobe=4, corpus_id_col="vec_id"
        ).collect()
    }
    assert approx == exact


def test_ivf_knn_join_partial_probe_recall_and_shape(spark, embeddings):
    """nprobe < cells: dense ranks 1..k per query, results deterministic,
    recall vs exact reasonable on the fixture; and the plan is an EQUI-join
    on the cell id (never a nested-loop/cartesian corpus × queries), which
    is what lets the query side scale past broadcast size."""
    from kaer_spark.operators.knn import knn_join
    from kaer_spark.operators.similarity import ivf_knn_join
    from kaer_spark.plans import executed_plan

    queries = (
        embeddings.orderBy("vec_id").limit(20)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    df = ivf_knn_join(
        queries, embeddings, k=5, cells=8, nprobe=4, corpus_id_col="vec_id"
    )
    rows = df.collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join(queries, embeddings, k=5, corpus_id_col="vec_id").collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(got & exact) / len(exact) >= 0.4  # nprobe=4 of 8 cells
    again = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_knn_join(
            queries, embeddings, k=5, cells=8, nprobe=4, corpus_id_col="vec_id"
        ).collect()
    }
    assert again == {(r["query_id"], r["vec_id"], r["rank"]) for r in rows}
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _clustered_clumped(spark, per_cluster=100, clusters=4, dim=8):
    """Synthetic corpus whose INGESTION ORDER correlates with content:
    ids 0..N arrive cluster by cluster (time-ordered crawl shape)."""
    state, rows = 11, []
    for c in range(clusters):
        for i in range(per_cluster):
            vec = []
            for d in range(dim):
                state = (state * 1103515245 + 12345) % (1 << 31)
                noise = state / float(1 << 31) - 0.5
                vec.append((10.0 if d == c else 0.0) + noise)
            rows.append((c * per_cluster + i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_fit_spread_balances_clumped_ingestion(spark):
    """On an id-order-equals-content corpus, the smallest-id fit samples one
    cluster only; the hash-spread fit must (a) be deterministic, (b) yield
    balanced cells, (c) make nprobe=1 joins accurate (cell ≈ cluster)."""
    from kaer_spark.operators.knn import knn_join
    from kaer_spark.operators.similarity import (
        ivf_assign_deterministic,
        ivf_fit_spread,
        ivf_knn_join,
    )

    corpus = _clustered_clumped(spark)
    cents = ivf_fit_spread(corpus, cells=4)
    assert cents == ivf_fit_spread(corpus, cells=4)
    sizes = [
        r["n"]
        for r in ivf_assign_deterministic(corpus, cents)
        .groupBy("_cell").agg(F.count("*").alias("n")).collect()
    ]
    # 400 rows over 4 cells: no cell swallows the corpus, none starves
    assert len(sizes) >= 3 and max(sizes) <= 250 and min(sizes) >= 20
    queries = (
        corpus.filter((F.col("vec_id") % 100) == 50)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join(queries, corpus, k=5, corpus_id_col="vec_id").collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_knn_join(
            queries, corpus, k=5, cells=4, nprobe=1, corpus_id_col="vec_id"
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_ivf_knn_join_cosine_full_probe_equals_exact(spark, embeddings):
    """metric='cosine': spherical assignment + angle probing; probing every
    cell must equal the exact cosine knn_join (same ranks, same ties)."""
    from kaer_spark.operators.knn import knn_join
    from kaer_spark.operators.similarity import ivf_knn_join

    queries = (
        embeddings.orderBy("vec_id").limit(15)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(
            queries, embeddings, k=5, corpus_id_col="vec_id", metric="cosine"
        ).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_knn_join(
            queries, embeddings, k=5, cells=4, nprobe=4,
            corpus_id_col="vec_id", metric="cosine",
        ).collect()
    }
    assert approx == exact


def test_ivf_knn_join_input_validation(spark, embeddings):
    """Negative paths: unknown metric and pre-assigned corpus without
    centroids are loud errors, not silent misbehavior."""
    import pytest as _pytest

    from kaer_spark.operators.similarity import ivf_knn_join

    q = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="metric"):
        ivf_knn_join(q, embeddings, k=2, metric="dotproduct")
    pre = embeddings.withColumn("_cell", F.lit(0))
    with _pytest.raises(ValueError, match="centroids"):
        ivf_knn_join(q, pre, k=2)


def test_ivf_fit_spread_pmod_discipline(spark):
    """ADVICE r6: the spread-fit hash key is pmod (non-negative) — on ids
    whose LCG product stays in int64 it selects the same centroids as the
    documented ((a*id+b) % P + P) % P oracle replay, and the fit remains
    deterministic across calls."""
    from kaer_spark.operators.similarity import (
        _SPREAD_A,
        _SPREAD_B,
        _SPREAD_P,
        ivf_fit_spread,
    )

    rows = [(i * 7 + 3, [float(i), float(i % 5), 0.0, 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_fit_spread(df, "embedding", "vec_id", cells=4)
    # python replay of the oracle's double-pmod ordering
    keyed = sorted(
        ((vid * _SPREAD_A + _SPREAD_B) % _SPREAD_P % _SPREAD_P, vid, vec)
        for vid, vec in rows
    )
    expect = [[float(x) for x in vec] for _, _, vec in keyed[:4]]
    assert cents == expect
    assert ivf_fit_spread(df, "embedding", "vec_id", cells=4) == cents


def test_pq_refined_full_shortlist_equals_exact(spark, embeddings):
    """pq_topk_refined with shortlist >= corpus size degrades to exact
    brute force: the ADC stage keeps everything, so the re-rank IS the
    exact top-k — ids AND float64 scores identical."""
    from kaer_spark.operators.similarity import pq_topk_refined

    n = embeddings.count()
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    refined = pq_topk_refined(
        embeddings, QVEC, topk=10, shortlist=n, m=8, k=16
    )
    assert [(r["vec_id"], r["_score"]) for r in refined.collect()] == [
        (r["vec_id"], r["_score"]) for r in exact.collect()
    ]


def test_pq_refined_scores_exact_and_recall_beats_adc(spark, embeddings):
    """The refined path's reported scores are EXACT distances (match the
    brute-force score for the same id bit-for-bit), and re-ranking a
    50-candidate shortlist recovers at least the recall of the raw ADC
    ranking it refines."""
    from kaer_spark.operators.similarity import (
        pq_topk_deterministic,
        pq_topk_refined,
        py_l2sq,
        recall_at_k,
    )

    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    refined = pq_topk_refined(
        embeddings, QVEC, topk=10, shortlist=50, m=8, k=16
    )
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embeddings.collect()
    }
    for r in refined.collect():
        assert r["_score"] == py_l2sq(vecs[r["vec_id"]], QVEC)
    adc = pq_topk_deterministic(embeddings, QVEC, topk=10, m=8, k=16)
    assert recall_at_k(refined, exact, "vec_id") >= recall_at_k(
        adc, exact, "vec_id"
    )


def test_pq_refined_validates_topk_le_shortlist(spark, embeddings):
    import pytest as _pytest

    from kaer_spark.operators.similarity import pq_topk_refined

    with _pytest.raises(ValueError, match="shortlist"):
        pq_topk_refined(embeddings, QVEC, topk=20, shortlist=10)


def test_mmr_lam1_equals_relevance_ranking(embeddings):
    """lam=1 removes the diversity term: MMR == plain cosine top-k
    (ids AND order), scores == brute-force cosine."""
    from kaer_spark.operators.similarity import mmr_rerank

    exact = brute_force_topk(embeddings, QVEC, 10, metric="cosine")
    got = mmr_rerank(embeddings, QVEC, k=10, pool=40, lam=1.0).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact.collect()]
    assert [r["relevance"] for r in got] == [r["_score"] for r in exact.collect()]
    assert [r["rank"] for r in got] == list(range(1, 11))


def test_mmr_diversifies_clustered_results(spark):
    """Three tight clusters near the query: plain top-3 drowns in the
    closest cluster; MMR at lam=0.5 picks one per cluster."""
    from kaer_spark.operators.similarity import mmr_rerank

    def v(base, eps):
        out = [0.0] * 8
        out[base] = 1.0
        out[(base + 1) % 8] = eps
        return out

    rows = []
    vid = 0
    for c in range(3):
        for j in range(4):
            rows.append((vid, v(c, 0.01 * (j + 1))))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.6, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0]
    plain = mmr_rerank(df, q, k=3, pool=12, lam=1.0).collect()
    mmr = mmr_rerank(df, q, k=3, pool=12, lam=0.3).collect()
    cluster = lambda i: i // 4
    assert len({cluster(r["vec_id"]) for r in plain}) == 1
    assert len({cluster(r["vec_id"]) for r in mmr}) == 3
    # invariants: distinct picks, rank 1 is the relevance argmax
    assert len({r["vec_id"] for r in mmr}) == 3
    assert mmr[0]["vec_id"] == plain[0]["vec_id"]


def test_mmr_validation_and_zero_vectors(spark, embeddings):
    import pytest as _pytest

    from kaer_spark.operators.similarity import mmr_rerank

    with _pytest.raises(ValueError, match="lam"):
        mmr_rerank(embeddings, QVEC, k=5, pool=10, lam=1.5)
    with _pytest.raises(ValueError, match="pool"):
        mmr_rerank(embeddings, QVEC, k=20, pool=10)
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_rerank(df, [1.0, 0.0], k=3, pool=3, lam=0.5).collect()
    # the zero vector (NULL cosine) is excluded; both others selected
    assert [r["vec_id"] for r in got] == [2, 3]


def test_ivf_pq_full_knobs_equals_exact(spark, embeddings):
    """At nprobe=cells and shortlist>=corpus, the composed IVF-PQ stack
    degrades to exact brute force (ids and float64 scores)."""
    from kaer_spark.operators.similarity import ivf_pq_topk

    n = embeddings.count()
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    got = ivf_pq_topk(
        embeddings, QVEC, topk=10, cells=8, nprobe=8, shortlist=n
    )
    assert [(r["vec_id"], r["_score"]) for r in got.collect()] == [
        (r["vec_id"], r["_score"]) for r in exact.collect()
    ]


def test_ivf_pq_partial_probe_recall_and_exact_scores(spark, embeddings):
    """Partial probe: reported scores are EXACT distances for the ids
    returned, and recall against brute force stays useful (the probed
    cells carry the query's neighborhood)."""
    from kaer_spark.operators.similarity import (
        ivf_pq_topk,
        py_l2sq,
        recall_at_k,
    )

    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    got = ivf_pq_topk(
        embeddings, QVEC, topk=10, cells=8, nprobe=3, shortlist=50
    )
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embeddings.collect()
    }
    rows = got.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["_score"] == py_l2sq(vecs[r["vec_id"]], QVEC)
    # widening either knob recovers recall on this (deterministic)
    # fixture: 0.2 @ (3,50) → 0.5 @ (6,50) → 0.9 @ (8,200)
    r3 = recall_at_k(got, exact, "vec_id")
    r6 = recall_at_k(
        ivf_pq_topk(embeddings, QVEC, topk=10, cells=8, nprobe=6,
                    shortlist=50),
        exact, "vec_id",
    )
    r8 = recall_at_k(
        ivf_pq_topk(embeddings, QVEC, topk=10, cells=8, nprobe=8,
                    shortlist=200),
        exact, "vec_id",
    )
    assert r3 <= r6 <= r8
    assert r8 >= 0.8


def test_pq_topk_adc_table_squares_by_product(spark):
    """``pq_topk`` builds its ADC table with the ``py_l2sq`` fold, which
    squares by product like the engine's ``l2sq``: for this ``x``,
    ``x ** 2`` and ``x * x`` differ in the last place."""
    from kaer_spark.operators.similarity import pq_topk, py_l2sq

    x = -1.818447760617123
    assert x ** 2 != x * x
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    q = [x, 0.0, 0.0, 0.0]
    codes = [0, 1]
    enc = spark.createDataFrame([(1, codes)], "vec_id long, pq_code array<int>")
    got = pq_topk(enc, books, q, k=1).collect()[0]["_score"]
    want = 0.0
    for j, c in enumerate(codes):
        want = want + py_l2sq(q[2 * j : 2 * j + 2], books[j][c])
    assert got == want


def test_each_vector_stage_lives_in_one_kernel():
    """The argmin, the in-plan probe, the ADC gather, the cosine norm
    precompute and the k-means centroid read are each written once across
    ``similarity``, ``index_store`` and ``knn``: inside their kernel, never
    again in a public form."""
    import ast
    import re

    import kaer_spark.operators.index_store as I
    import kaer_spark.operators.knn as K
    import kaer_spark.operators.similarity as S

    only_in = {
        r"F\.array_min\(": {"similarity._nearest"},
        r"F\.array_sort\(": {"similarity._probe"},
        r"lambdac,t:t\[c\]": {"similarity._adc_score"},
        r"vector_norm\(": {"knn._score_pairs"},
        r"\.clusterCenters\(\)": {"similarity._centers"},
    }
    found = {pat: set() for pat in only_in}
    for mod in (S, I, K):
        src = open(mod.__file__, encoding="utf-8").read()
        lines = src.splitlines()
        short = mod.__name__.rsplit(".", 1)[1]
        for node in ast.parse(src).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            body = re.sub(r"\s+", "", "".join(lines[node.lineno - 1:node.end_lineno]))
            for pat in only_in:
                if re.search(pat, body):
                    found[pat].add(f"{short}.{node.name}")
    assert found == only_in


def test_deterministic_fits_skip_null_vectors(spark):
    """The sample fits read only non-null vectors: a null vector in the
    first-scanned row neither fails a fit nor takes a centroid slot, and
    too few non-null vectors still raises."""
    from kaer_spark.operators.similarity import (
        ivf_fit_deterministic,
        ivf_fit_spread,
        pq_fit_deterministic,
    )

    a, b = [1.0, 0.0, 0.5, 0.2], [0.0, 1.0, 0.5, 0.2]
    df = spark.createDataFrame(
        [(1, None), (2, a), (3, b)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    assert ivf_fit_deterministic(df, cells=2) == [a, b]
    assert sorted(ivf_fit_spread(df, cells=2)) == sorted([a, b])
    assert pq_fit_deterministic(df, m=2, k=2) == [
        [a[:2], b[:2]], [a[2:], b[2:]]
    ]
    with pytest.raises(ValueError, match="cells=3"):
        ivf_fit_deterministic(df, cells=3)
