"""Materialized IVF index table: build / partition-pruned search /
incremental refresh (the reference's save / search / catch-up cycle)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kaer_spark.operators.index_store import (
    build_ivf_index,
    ivf_index_topk,
    read_index_meta,
    refresh_ivf_index,
)
from kaer_spark.operators.similarity import (
    brute_force_topk,
    ivf_probe_cells,
    recall_at_k,
)
from kaer_spark.plans.inspect import formatted_plan

QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def test_build_search_recall(spark, embeddings, tmp_path):
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(embeddings, path, cells=8, seed=42)
    assert meta["dim"] == 64 and len(meta["centroids"]) == 8
    approx = ivf_index_topk(spark, path, QVEC, k=10, nprobe=4)
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    assert approx.count() == 10
    assert recall_at_k(approx, exact, "vec_id") >= 0.5  # nprobe=4 of 8 cells


def test_search_prunes_partitions(spark, embeddings, tmp_path):
    """nprobe pruning must happen at the DIRECTORY level (PartitionFilters),
    not as a post-scan filter — that's what makes it an index."""
    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, cells=8, seed=42)
    df = ivf_index_topk(spark, path, QVEC, k=5, nprobe=2)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "_cell IN (" in plan or "_cell#" in plan  # pushed to partition level


def test_refresh_catches_up_from_max_id(spark, embeddings, tmp_path):
    path = str(tmp_path / "ivf")
    old = embeddings.filter(F.col("vec_id") < 300)
    build_ivf_index(old, path, cells=4, seed=42)
    assert read_index_meta(path)["max_id"] == 299

    meta = refresh_ivf_index(embeddings, path)
    assert meta["max_id"] == embeddings.agg(F.max("vec_id")).collect()[0][0]
    indexed = spark.read.parquet(f"{path}/data")
    assert indexed.count() == embeddings.count()
    # no duplicates: each id exactly once
    assert indexed.select("vec_id").distinct().count() == embeddings.count()
    # idempotent: second refresh appends nothing
    refresh_ivf_index(embeddings, path)
    assert spark.read.parquet(f"{path}/data").count() == embeddings.count()


def test_collection_index_lifecycle(spark, tmp_path):
    """Collection-level parity: build_index, approximate query through the
    probed cells, and insert-triggered catch-up (reference O4's inline
    index.Add becomes an id-range refresh job)."""
    import pytest

    from kaer_spark.context import CollectionNotFound, KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("idx")
    coll.insert([f"document number {i} about topic {i % 5}" for i in range(40)],
                [{"topic": i % 5} for i in range(40)])

    with pytest.raises(CollectionNotFound):
        coll.query("topic 3", k=3, approximate=True)

    coll.build_index(cells=4, seed=42)
    exact = coll.query("topic 3", k=3).select("_m_id").collect()
    approx = coll.query("topic 3", k=3, approximate=True, nprobe=4)  # all cells
    assert [r["_m_id"] for r in approx.select("_m_id").collect()] == [
        r["_m_id"] for r in exact
    ]  # nprobe == cells → identical to exact

    # filtered approximate query respects the metadata pre-filter
    filtered = coll.query("topic 3", k=5, filter={"topic": 2}, approximate=True, nprobe=4)
    assert {r["topic"] for r in filtered.collect()} == {2}

    # insert auto-refreshes the index (catch-up from max_id)
    coll.insert(["a brand new document"], [{"topic": 9}])
    indexed = spark.read.parquet(f"{coll.index_path}/data")
    assert indexed.count() == 41


def test_indexed_collection_survives_schema_evolution(spark, tmp_path):
    """Insert-triggered refresh after a schema-evolving insert must leave
    the index queryable with filters on the NEW field (mergeSchema on the
    index read path)."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    c = ctx.create_collection("evolving_idx")
    c.insert([f"base doc {i}" for i in range(10)], [{"a": i} for i in range(10)])
    c.build_index(cells=2, seed=42)
    c.insert(["fresh doc"], [{"a": 99, "b": "tagged"}])  # evolves schema + refreshes

    hit = c.query("fresh doc", k=3, filter={"b": "tagged"}, approximate=True, nprobe=2)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["b"] == "tagged"
    # old rows remain queryable too, reading b as NULL
    allq = c.query("base doc", k=11, approximate=True, nprobe=2)
    assert allq.count() == 11


def test_deterministic_fit_is_oracle_replayable(spark, embeddings, tmp_path):
    """fit='deterministic': the stored centroids are exactly the cells
    smallest-id vectors, and a full-probe approximate search equals the
    exact top-k — the user-facing approximate mode a SQL oracle can replay
    bit-for-bit (VERDICT r5 stretch item)."""
    path = str(tmp_path / "ivf_det")
    meta = build_ivf_index(embeddings, path, cells=4, fit="deterministic")
    assert meta["fit"] == "deterministic"
    want = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    assert meta["centroids"] == want
    # probing every cell degrades to exact search — same ids, same order
    approx = ivf_index_topk(spark, path, QVEC, k=10, nprobe=4)
    exact = brute_force_topk(embeddings, QVEC, 10, metric="l2sq")
    assert [r["vec_id"] for r in approx.collect()] == [
        r["vec_id"] for r in exact.collect()
    ]
    # rebuild reproduces identical centroids (no RNG anywhere)
    meta2 = build_ivf_index(embeddings, str(tmp_path / "ivf_det2"), cells=4,
                            fit="deterministic")
    assert meta2["centroids"] == meta["centroids"]


def test_collection_deterministic_index_fit_survives_delete(spark, tmp_path):
    """Collection.build_index(fit='deterministic') flows through query
    (approximate=True), and the delete-triggered rebuild preserves the fit
    choice recorded in the sidecar."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("c")
    col = ctx.get_collection("c")
    col.insert([f"doc {i} alpha beta" for i in range(20)],
               [{"n": i} for i in range(20)])
    col.build_index(cells=4, fit="deterministic")
    assert read_index_meta(col.index_path)["fit"] == "deterministic"
    got = col.query("doc 3 alpha beta", k=3, approximate=True, nprobe=4)
    assert got.count() == 3
    col.delete({"n": {"$gte": 15}})
    meta = read_index_meta(col.index_path)
    assert meta["fit"] == "deterministic"
    assert col.query("doc 3 alpha beta", k=3, approximate=True).count() == 3


def test_index_knn_join_matches_fresh_join(spark, embeddings, tmp_path):
    """The index-table kNN join reuses the stored assignment + sidecar
    centroids, so it must equal a fresh ivf_knn_join over the raw corpus
    with the same (deterministic) centroids — and probing all cells must
    equal the exact broadcast knn_join."""
    from kaer_spark.operators.index_store import ivf_index_knn_join
    from kaer_spark.operators.knn import knn_join
    from kaer_spark.operators.similarity import ivf_knn_join

    path = str(tmp_path / "ivf_join")
    meta = build_ivf_index(embeddings, path, cells=4, fit="deterministic")
    queries = (
        embeddings.orderBy("vec_id").limit(15)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )

    def key_set(df):
        return {(r["query_id"], r["vec_id"], r["rank"]) for r in df.collect()}

    from_index = key_set(
        ivf_index_knn_join(spark, path, queries, k=5, nprobe=2)
    )
    fresh = key_set(
        ivf_knn_join(
            queries, embeddings, k=5, nprobe=2,
            corpus_id_col="vec_id", centroids=meta["centroids"],
        )
    )
    assert from_index == fresh
    exact = key_set(knn_join(queries, embeddings, k=5, corpus_id_col="vec_id"))
    assert key_set(ivf_index_knn_join(spark, path, queries, k=5, nprobe=4)) == exact


def test_filtered_query_escalates_nprobe(spark, embeddings, tmp_path):
    """A selective filter must return exactly k rows whenever k matches
    exist ANYWHERE in the index — nprobe doubles until filled or all
    cells probed, and the escalated result equals the exact filtered
    ranking (r9 verdict item #5: the reference's 'k nearest among
    matches', db/db.go:111-143, must hold under selective filters)."""
    path = str(tmp_path / "ivf_esc")
    build_ivf_index(embeddings, path, cells=8, seed=42)
    # a filter matching few rows, spread across cells: vec_id % 97 == 0
    pred = F.col("vec_id") % 97 == 0
    k = 5
    got = ivf_index_topk(spark, path, QVEC, k=k, nprobe=1, pred=pred)
    rows = got.collect()
    n_matches = embeddings.filter(pred).count()
    assert len(rows) == min(k, n_matches) and n_matches >= k
    # matches the exact filtered ranking (full probe ≡ exact over the
    # same rows, and escalation ends at full probe if needed)
    exact = (
        brute_force_topk(
            embeddings.filter(pred), QVEC, k, metric="l2sq"
        ).collect()
    )
    assert [r["vec_id"] for r in rows] == [r["vec_id"] for r in exact]
    # the 1-cell probe alone holds fewer than k matches: escalation ran
    first = ivf_probe_cells(read_index_meta(path)["centroids"], QVEC, 1)
    data = spark.read.parquet(f"{path}/data")
    assert data.filter(F.col("_cell").isin(first) & pred).count() < k


@pytest.mark.parametrize("form", ["ivf", "pq"])
def test_filtered_search_runs_each_round_once(
    spark, embeddings, tmp_path, monkeypatch, form
):
    """A filtered, probed search collects each escalation round once and
    returns the filling round as a local frame. Across construction plus
    action an IVF round fires one Spark job and a PQ round one run of its
    two-stage plan (its broadcast builds included); the action fires none,
    and the rows equal the filling round's lazy plan's. An unfiltered
    search fires no job at construction."""
    from kaer_spark.operators import similarity as S
    from kaer_spark.operators.index_store import build_pq_index, pq_index_topk

    from tests.conftest import jobs_fired

    path = str(tmp_path / form)
    if form == "ivf":
        build_ivf_index(embeddings, path, cells=8, seed=42)
        kernel, pred = "_probed_topk", F.col("vec_id") % 97 == 0

        def search(pred):
            return ivf_index_topk(spark, path, QVEC, k=5, nprobe=1, pred=pred)
    else:
        build_pq_index(embeddings, path, m=8, k=16, cells=8)
        kernel, pred = "_l2_topk", F.col("vec_id") % 50 == 0

        def search(pred):
            return pq_index_topk(
                spark, path, embeddings, QVEC, topk=8, shortlist=200,
                nprobe=1, pred=pred,
            )

    rounds = []
    inner = getattr(S, kernel)

    def spy(*args, **kwargs):
        rounds.append(inner(*args, **kwargs))
        return rounds[-1]

    monkeypatch.setattr(S, kernel, spy)
    search(pred)  # the first read of the index table infers its schema
    rounds.clear()
    with jobs_fired(spark) as built:
        got = search(pred)
    with jobs_fired(spark) as acted:
        rows = [tuple(r) for r in got.collect()]
    assert len(rounds) > 1  # the 1-cell probe under-filled: it escalated
    assert got._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    assert acted == []
    with jobs_fired(spark) as once:
        lazy = [tuple(r) for r in rounds[-1].select(*got.columns).collect()]
    if form == "ivf":
        assert len(once) == 1
    assert len(built) == len(rounds) * len(once)
    assert rows == lazy
    with jobs_fired(spark) as built:
        search(None)
    assert built == []


# ---------------------------------------------------------------------------
# At-rest PQ code table (build / serve / catch-up — the PQ twin of the cycle
# above; reference db/db.go:102-109 persisted-index parity)
# ---------------------------------------------------------------------------
def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_pq_index_serves_identically_to_fresh_refined(spark, embeddings, tmp_path):
    """Serving from stored codes must be VALUE-identical to the per-call
    fit+encode path (same deterministic codebooks, same argmin codes, same
    ADC tables, same exact refine) — that identity is what lets the
    existing pq_knn_refined oracle keep checking the at-rest route."""
    from kaer_spark.operators.index_store import build_pq_index, pq_index_topk
    from kaer_spark.operators.similarity import pq_topk_refined

    path = str(tmp_path / "pq")
    meta = build_pq_index(embeddings, path, m=8, k=16)
    assert meta["kind"] == "pq" and meta["cells"] is None
    served = pq_index_topk(spark, path, embeddings, QVEC, topk=10, shortlist=50)
    fresh = pq_topk_refined(embeddings, QVEC, topk=10, shortlist=50, m=8, k=16)
    assert _rows(served) == _rows(fresh)


def test_pq_index_with_cells_matches_fresh_ivf_pq(spark, embeddings, tmp_path):
    from kaer_spark.operators.index_store import build_pq_index, pq_index_topk
    from kaer_spark.operators.similarity import ivf_pq_topk

    path = str(tmp_path / "ivfpq")
    build_pq_index(embeddings, path, m=8, k=16, cells=8)
    served = pq_index_topk(
        spark, path, embeddings, QVEC, topk=10, shortlist=50, nprobe=3
    )
    fresh = ivf_pq_topk(
        embeddings, QVEC, topk=10, cells=8, nprobe=3, shortlist=50,
        m=8, codebook_k=16,
    )
    assert _rows(served) == _rows(fresh)


def test_pq_refresh_catches_up_row_identical(spark, embeddings, tmp_path):
    """O8 catch-up for PQ: build on the id-prefix, refresh with the full
    corpus → the code table equals a from-scratch build over the SAME
    prefix-fit codebooks (refresh never refits), and refresh is idempotent
    per the id high-water mark."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        read_pq_meta,
        refresh_pq_index,
    )

    path = str(tmp_path / "pq")
    old = embeddings.filter(F.col("vec_id") < 300)
    build_pq_index(old, path, m=8, k=16)
    assert read_pq_meta(path)["max_id"] == 299

    meta = refresh_pq_index(embeddings, path)
    assert meta["max_id"] == embeddings.agg(F.max("vec_id")).collect()[0][0]
    codes = spark.read.parquet(f"{path}/data")
    assert codes.count() == embeddings.count()
    assert codes.select("vec_id").distinct().count() == embeddings.count()
    refresh_pq_index(embeddings, path)  # idempotent
    assert spark.read.parquet(f"{path}/data").count() == embeddings.count()

    # appended codes use the STORED (prefix-fit) codebooks: re-encoding the
    # tail fresh under those codebooks reproduces the stored rows exactly
    from kaer_spark.operators.similarity import pq_encode

    tail_fresh = pq_encode(
        embeddings.filter(F.col("vec_id") >= 300), meta["codebooks"]
    ).select("vec_id", "pq_code")
    stored_tail = codes.filter(F.col("vec_id") >= 300)
    assert sorted(_rows(tail_fresh.withColumn("pq_code", F.col("pq_code").cast("string")))) == sorted(
        _rows(stored_tail.withColumn("pq_code", F.col("pq_code").cast("string")))
    )


def test_pq_index_stage1_scans_codes_not_vectors(spark, embeddings, tmp_path):
    """The IO contract that justifies the index: the shortlist stage's
    parquet scan reads (id, pq_code) ONLY — never the raw vector column —
    and a probed search prunes code partitions at the directory level."""
    from kaer_spark.operators.index_store import build_pq_index, pq_index_topk

    path = str(tmp_path / "ivfpq")
    build_pq_index(embeddings, path, m=8, k=16, cells=8)
    df = pq_index_topk(spark, path, embeddings, QVEC, topk=5, shortlist=20, nprobe=2)
    plan = formatted_plan(df)
    # two scans: codes (no embedding column) + corpus (for the exact refine)
    import re

    code_scans = [
        s for s in re.findall(r"ReadSchema: [^\n]*", plan) if "pq_code" in s
    ]
    assert code_scans, plan
    assert all("embedding" not in s for s in code_scans), code_scans
    assert "PartitionFilters" in plan


def test_collection_pq_index_lifecycle(spark, tmp_path):
    """Collection-level PQ serving: build the code table, query from it
    (equals the operator-level refined search over the same frame), stats
    reflect it, and insert → refresh_pq_index catches up so the new doc
    is findable through the compressed path."""
    from kaer_spark.context import KaerContext
    from kaer_spark.operators.similarity import pq_topk_refined

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("pq")
    texts = [f"document number {i} about topic {i % 7}" for i in range(40)]
    coll.insert(texts, [{"i": i} for i in range(40)])
    assert coll.stats()["has_pq_index"] is False

    coll.build_pq_index(m=8, k=16)
    assert coll.stats()["has_pq_index"] is True
    got = coll.query_pq("topic three", k=5, shortlist=20).collect()
    assert len(got) == 5
    # parity with the operator-level fresh computation on the same frame
    from kaer_spark.context import EMB_COL, ID_COL
    from kaer_spark.embeddings import embed_texts_local

    qv = embed_texts_local(["topic three"], ctx.provider_for(coll.meta))[0]
    fresh = pq_topk_refined(
        coll.df(), qv, topk=5, shortlist=20, m=8, k=16,
        vec_col=EMB_COL, id_col=ID_COL,
    ).collect()
    assert [r[ID_COL] for r in got] == [r[ID_COL] for r in fresh]
    assert [r["_dist"] for r in got] == [r["_score"] for r in fresh]

    # catch-up: new inserts become searchable after refresh
    coll.insert(["a brand new document"], [{"i": 99}])
    coll.refresh_pq_index()
    ids = {
        r[ID_COL]
        for r in coll.query_pq(
            "a brand new document", k=41, shortlist=100
        ).collect()
    }
    assert coll.count() - 1 in ids  # the appended doc's id is served


def test_refresh_replayed_after_crash_no_duplicates(spark, embeddings, tmp_path):
    """Crash-between-append-and-meta (r12 ADVICE): a successful tail append
    whose watermark update never landed leaves the meta stale; replaying
    the refresh must NOT duplicate ids in the code table or in served
    top-k. Simulated by resetting max_id back to the prefix value."""
    import json
    import os

    from kaer_spark.operators.index_store import (
        PQ_META_FILE,
        build_pq_index,
        pq_index_topk,
        read_pq_meta,
        refresh_pq_index,
    )

    path = str(tmp_path / "pq")
    build_pq_index(embeddings.filter(F.col("vec_id") < 300), path, m=8, k=16)
    refresh_pq_index(embeddings, path)
    total = embeddings.count()
    assert spark.read.parquet(f"{path}/data").count() == total

    # wind the watermark back as if the meta write was lost
    meta = read_pq_meta(path)
    meta["max_id"] = 299
    with open(os.path.join(path, PQ_META_FILE), "w") as f:
        json.dump(meta, f)
    refresh_pq_index(embeddings, path)  # replay
    codes = spark.read.parquet(f"{path}/data")
    assert codes.count() == total
    assert codes.select("vec_id").distinct().count() == total
    assert read_pq_meta(path)["max_id"] == embeddings.agg(
        F.max("vec_id")
    ).collect()[0][0]
    served = pq_index_topk(spark, path, embeddings, QVEC, topk=10, shortlist=50)
    ids = [r["vec_id"] for r in served.collect()]
    assert len(ids) == len(set(ids)) == 10


def test_ivf_refresh_replayed_after_crash_no_duplicates(spark, embeddings, tmp_path):
    import json
    import os

    from kaer_spark.operators.index_store import META_FILE

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings.filter(F.col("vec_id") < 300), path, cells=4, seed=42)
    refresh_ivf_index(embeddings, path)
    total = embeddings.count()
    meta = read_index_meta(path)
    meta["max_id"] = 299
    with open(os.path.join(path, META_FILE), "w") as f:
        json.dump(meta, f)
    refresh_ivf_index(embeddings, path)  # replay
    data = spark.read.parquet(f"{path}/data")
    assert data.count() == total
    assert data.select("vec_id").distinct().count() == total


def test_pq_index_topk_filtered_k_nearest_among_matches(spark, embeddings, tmp_path):
    """pred semi-joins the code table BEFORE the ADC cut: with a shortlist
    covering every match, the result IS the exact filtered top-k ("k
    nearest among matches"), never an under-filled top-k-minus-rest."""
    from kaer_spark.operators.index_store import build_pq_index, pq_index_topk
    from kaer_spark.operators.similarity import brute_force_topk

    path = str(tmp_path / "pq")
    build_pq_index(embeddings, path, m=8, k=16)
    pred = F.col("vec_id") % 7 == 0
    n_match = embeddings.filter(pred).count()
    got = pq_index_topk(
        spark, path, embeddings, QVEC, topk=10,
        shortlist=n_match, pred=pred,
    ).collect()
    exact = (
        brute_force_topk(
            embeddings.filter(pred), QVEC, 10, metric="l2sq"
        )
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]
    assert all(r["vec_id"] % 7 == 0 for r in got)


def test_pq_index_topk_filtered_escalates_nprobe(spark, embeddings, tmp_path):
    """Celled index + selective pred: a 1-cell probe can't fill k, so
    nprobe doubles until k rows match (the ivf_index_topk recipe) — and
    at full escalation the result equals the unprobed filtered search."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        pq_index_topk,
        read_pq_meta,
    )

    path = str(tmp_path / "pq")
    build_pq_index(embeddings, path, m=8, k=16, cells=8)
    pred = F.col("vec_id") % 50 == 0  # ~12 matches spread across cells
    k = 8
    esc = pq_index_topk(
        spark, path, embeddings, QVEC, topk=k, shortlist=200,
        nprobe=1, pred=pred,
    ).collect()
    assert len(esc) == k
    assert all(r["vec_id"] % 50 == 0 for r in esc)
    flat = pq_index_topk(
        spark, path, embeddings, QVEC, topk=k, shortlist=200,
        pred=pred,
    ).collect()
    assert [(r["vec_id"], r["_score"]) for r in esc] == [
        (r["vec_id"], r["_score"]) for r in flat
    ]
    # the 1-cell probe alone holds fewer than k matches: escalation ran
    first = ivf_probe_cells(read_pq_meta(path)["centroids"], QVEC, 1)
    codes = spark.read.parquet(f"{path}/data").filter(F.col("_cell").isin(first))
    matches = embeddings.filter(pred).select("vec_id")
    assert codes.join(matches, "vec_id", "left_semi").count() < k


def test_collection_query_pq_filtered(spark, tmp_path):
    """query_pq(filter=...) is the reference's filtered-kNN contract on the
    compressed path: every hit matches the Mongo-dialect filter and equals
    query()'s exact filtered ranking when the shortlist covers the
    matches."""
    from kaer_spark.context import ID_COL, KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("pqf")
    texts = [f"document number {i} about topic {i % 7}" for i in range(40)]
    coll.insert(texts, [{"i": i, "parity": i % 2} for i in range(40)])
    coll.build_pq_index(m=8, k=16)
    got = coll.query_pq(
        "topic three", k=5, filter={"parity": 1}, shortlist=40
    ).collect()
    assert len(got) == 5
    assert all(r["parity"] == 1 for r in got)
    exact = coll.query("topic three", k=5, filter={"parity": 1}).collect()
    assert [r[ID_COL] for r in got] == [r[ID_COL] for r in exact]


def test_pq_index_knn_join_equals_per_query_serving(spark, embeddings, tmp_path):
    """The batch join must reproduce the single-query pq_index_topk loop
    exactly — per query, same survivors, same exact re-rank scores — for
    both the unprobed and the celled+probed layouts."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        pq_index_knn_join,
        pq_index_topk,
    )

    queries = (
        embeddings.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    qvecs = {r["query_id"]: list(r["embedding"]) for r in queries.collect()}

    for cells, nprobe in ((None, None), (8, 3)):
        path = str(tmp_path / f"pq_{cells}")
        build_pq_index(embeddings, path, m=8, k=16, cells=cells)
        batch = pq_index_knn_join(
            spark, path, embeddings, queries,
            topk=5, shortlist=20, nprobe=nprobe,
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], r["_score"])
            )
        assert set(got) == set(qvecs)
        for qid, qv in qvecs.items():
            single = [
                (i + 1, r["vec_id"], r["_score"])
                for i, r in enumerate(
                    pq_index_topk(
                        spark, path, embeddings, qv,
                        topk=5, shortlist=20, nprobe=nprobe,
                    ).collect()
                )
            ]
            assert sorted(got[qid]) == single, (cells, qid)


def test_pq_index_knn_join_filtered(spark, embeddings, tmp_path):
    """Filtered batch join: every hit matches pred, and with a shortlist
    covering all matches each query's result is the exact filtered top-k."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        pq_index_knn_join,
    )
    from kaer_spark.operators.similarity import brute_force_topk

    path = str(tmp_path / "pq")
    build_pq_index(embeddings, path, m=8, k=16)
    pred = F.col("vec_id") % 9 == 0
    n_match = embeddings.filter(pred).count()
    queries = (
        embeddings.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = pq_index_knn_join(
        spark, path, embeddings, queries,
        topk=6, shortlist=n_match, pred=pred,
    ).collect()
    by_q = {}
    for r in out:
        assert r["vec_id"] % 9 == 0
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    qvecs = {r["query_id"]: list(r["embedding"]) for r in queries.collect()}
    for qid, qv in qvecs.items():
        exact = brute_force_topk(
            embeddings.filter(pred), qv, 6, metric="l2sq"
        ).collect()
        assert sorted(by_q[qid]) == [
            (i + 1, r["vec_id"]) for i, r in enumerate(exact)
        ]


def test_pq_index_knn_join_unprobed_guard(spark, embeddings, tmp_path):
    """The unprobed branch broadcasts + crosses the query table with the
    code scan — fine for eval-sized batches, a blow-up for training-sized
    ones. The row-count gate raises past max_unprobed_queries with
    nprobe=None (r13 verdict #3: geometry guards beat docstrings); the
    same batch passes with nprobe on a celled index, and raising the knob
    deliberately also passes."""
    import pytest as _pytest

    from kaer_spark.operators.index_store import (
        build_pq_index,
        pq_index_knn_join,
    )

    path = str(tmp_path / "pq_guard")
    build_pq_index(embeddings, path, m=8, k=16, cells=8)
    queries = embeddings.limit(10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="max_unprobed_queries"):
        pq_index_knn_join(
            spark, path, embeddings, queries,
            topk=3, shortlist=10, max_unprobed_queries=5,
        )
    # celled + probed: no guard (queries equi-join on _cell, never cross)
    probed = pq_index_knn_join(
        spark, path, embeddings, queries,
        topk=3, shortlist=10, nprobe=8, max_unprobed_queries=5,
    )
    assert probed.count() == 30
    # deliberate override
    forced = pq_index_knn_join(
        spark, path, embeddings, queries,
        topk=3, shortlist=10, max_unprobed_queries=10,
    )
    assert forced.count() == 30


def test_ivf_index_stats_health_report(spark, tmp_path):
    """Index-health report: per-cell sizes, skew vs the balanced design
    point, rank-based residual quantiles against the sidecar centroids,
    watermark lag vs a live corpus that grew past the index, and the
    oversized flag after a drift-shaped refresh piles everything onto
    one cell."""
    from kaer_spark.operators.index_store import (
        build_ivf_index,
        ivf_index_stats,
        refresh_ivf_index,
    )

    # det fit, cells=4: centroids = vectors of ids 0..3 (spread corners)
    cents = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]
    rows = [(i, c) for i, c in enumerate(cents)]
    rows += [(4, [1.0, 0.0])]                                  # cell 0
    rows += [(10 + i, [10.0, float(i + 1)]) for i in range(5)]  # cell 1
    rows += [(20, [0.0, 9.0]), (21, [10.0, 9.0])]              # cells 2, 3
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, cells=4, fit="deterministic")
    live = corpus.union(
        spark.createDataFrame([(99, [0.0, 0.0])], corpus.schema)
    )
    stats = {
        r["cell"]: r
        for r in ivf_index_stats(spark, path, corpus=live).collect()
    }
    assert [stats[c]["n_vectors"] for c in range(4)] == [2, 6, 2, 2]
    assert abs(stats[0]["size_frac"] - 2 / 12) < 1e-15
    assert abs(stats[1]["skew"] - 6 * 4 / 12) < 1e-15  # 2.0
    # skew uses a strict > 2.0 bar: exactly 2.0 is NOT flagged
    assert not stats[1]["oversized"]
    # cell 0 residuals {0.0, 1.0}: p50 = rank ceil(2/2)=1 → 0.0,
    # p90 = rank ceil(1.8)=2 → 1.0
    assert stats[0]["p50_resid"] == 0.0 and stats[0]["p90_resid"] == 1.0
    # cell 1 residuals {0,1,4,9,16,25}: p50 = rank 3 → 4.0, p90 = rank 6
    assert stats[1]["p50_resid"] == 4.0 and stats[1]["p90_resid"] == 25.0
    assert stats[1]["max_resid"] == 25.0
    assert stats[0]["watermark"] == 21 and stats[0]["watermark_lag"] == 78

    # drift-shaped refresh: 12 new vectors all land in cell 1 → its skew
    # rises past the 2.0 bar and the report flags it
    tail = spark.createDataFrame(
        [(200 + i, [10.0, 0.5]) for i in range(12)], corpus.schema
    )
    refresh_ivf_index(corpus.union(tail), path)
    stats2 = {r["cell"]: r for r in ivf_index_stats(spark, path).collect()}
    assert stats2[1]["n_vectors"] == 18
    assert stats2[1]["oversized"]  # 18*4/24 = 3.0 > 2.0
    assert not stats2[0]["oversized"]
    assert "watermark_lag" not in stats2[0].asDict()  # corpus not given


def test_pq_index_stats_reconstruction_error(spark, tmp_path):
    """PQ health report: reconstruction error of the STORED codes against
    the sidecar codebooks. Vectors that are exact codebook-slice
    combinations reconstruct at 0; a known off-by-delta vector carries
    exactly delta² per perturbed dim; watermark lag reflects a corpus
    that grew past the index."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        pq_index_stats,
    )

    # m=2 subspaces of d=2; det codebooks = slices of ids 0,1 (k=2)
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [4.0, 0.0, 0.0, 4.0]),
        (2, [4.0, 0.0, 0.0, 0.0]),   # book0[1] ++ book1[0] → exact
        (3, [0.1, 0.0, 0.0, 0.0]),   # 0.1 off book0[0] in dim 1
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "pq")
    build_pq_index(corpus, path, m=2, k=2, cells=None, fit="deterministic")
    live = corpus.union(
        spark.createDataFrame([(50, [0.0] * 4)], corpus.schema)
    )
    row = pq_index_stats(spark, path, live).collect()
    assert len(row) == 1 and row[0]["cell"] == -1
    r = row[0]
    assert r["n_codes"] == 4
    # errors: ids 0,1,2 → 0.0; id 3 → 0.1² = 0.01
    assert r["p50_err"] == 0.0                      # rank ceil(4/2)=2
    assert abs(r["p90_err"] - 0.01) < 1e-15         # rank ceil(3.6)=4
    assert abs(r["max_err"] - 0.01) < 1e-15
    assert r["watermark"] == 3 and r["watermark_lag"] == 47


def test_watermark_protocol_stamp_derive_once_and_replay(spark, tmp_path):
    """The shared refresh protocol of every standing index
    (``operators.util``), driven on a one-column id table. A sidecar
    wound back after an append (the crash before the flip) makes the
    replay append only the rows that never landed; a no-op refresh
    stamps the ``advance_to`` floor; and a sidecar without ``max_id``
    derives its watermark from the table once and stamps it."""
    import os

    import pandas as pd

    from kaer_spark.operators.util import (
        catch_up_tail,
        flip_watermark,
        unindexed,
    )
    from kaer_spark.sources.files import read_sidecar, write_sidecar

    path = str(tmp_path / "idx")
    table = os.path.join(path, "ids")
    sidecar = os.path.join(path, "idx.json")
    # from pandas: a local relation, so each protocol step is one cheap job
    docs = spark.createDataFrame(pd.DataFrame({"id": range(7)}))

    # a refresh up to id 5 appended 4 and 5, then crashed before its flip;
    # id 3 was decided by an earlier advance_to floor and never stored
    docs.filter("id != 3 AND id < 6").write.parquet(table)
    write_sidecar(sidecar, {"id_col": "id", "max_id": 3})
    meta = read_sidecar(sidecar)
    wm, tail, new_max = catch_up_tail(docs, path, "idx.json", meta, table, "id")
    assert (wm, new_max) == (3, 6)
    assert [r[0] for r in unindexed(tail, "id", table, wm).collect()] == [6]
    flip_watermark(path, "idx.json", meta, new_max)
    assert read_sidecar(sidecar)["max_id"] == 6

    meta = read_sidecar(sidecar)
    _, _, new_max = catch_up_tail(
        docs, path, "idx.json", meta, table, "id", advance_to=9
    )
    assert new_max is None and read_sidecar(sidecar)["max_id"] == 9

    write_sidecar(sidecar, {"id_col": "id"})
    _, _, new_max = catch_up_tail(
        docs.filter("id < 6"), path, "idx.json", {"id_col": "id"}, table, "id"
    )
    assert new_max is None
    assert read_sidecar(sidecar) == {"id_col": "id", "max_id": 5}


def _local_docs(spark):
    import pandas as pd

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [(i, " ".join(words[(i + j) % 10] for j in range(6 + i % 3)))
            for i in range(12)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]), "doc_id long, text string"
    )


def _crash_family(family):
    """(build, refresh, read_meta, tables, table whose write crashes,
    geometry A, geometry B, corpus) for the crash-in-rebuild test."""
    from kaer_spark.operators import dedup as D
    from kaer_spark.operators import index_store as I

    if family == "minhash":
        return (
            D.build_minhash_index, D.refresh_minhash_index,
            D.read_minhash_index_meta, ["bands", "docs"], "docs",
            {"n": 5, "num_hashes": 16, "bands": 4},
            {"n": 4, "num_hashes": 12, "bands": 3},
            _local_docs,
        )
    return (
        I.build_ivf_index, I.refresh_ivf_index, I.read_index_meta,
        ["data"], "data",
        {"cells": 4, "fit": "deterministic"},
        {"cells": 2, "fit": "deterministic"},
        lambda spark: _local_vectors(spark, 21, 0, 5),
    )


@pytest.mark.parametrize("family", ["minhash", "ivf"])
def test_crash_in_rebuild_leaves_no_stale_geometry(
    spark, tmp_path, monkeypatch, family
):
    """A rebuild with new geometry B over an index of geometry A crashes
    in a table write (MinHash ``docs/``, its second; IVF ``data/``, its
    only). The sidecar then either fails to read or reports B with no
    watermark, never A over B's tables; and the next refresh leaves
    tables row-equal to a clean B build."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    build, refresh, read_meta, tables, crash, geom_a, geom_b, make = (
        _crash_family(family)
    )
    df = make(spark)
    path, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    build(df, path, **geom_a)
    real = DataFrameWriter.parquet

    def crashing(self, target, *args, **kwargs):
        if os.path.basename(target) == crash:
            raise RuntimeError(f"crash writing {crash}/")
        return real(self, target, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crashing)
        with pytest.raises(RuntimeError, match="crash writing"):
            build(df, path, **geom_b)
    try:
        meta = read_meta(path)
    except (OSError, ValueError):
        meta = None
    if meta is None:
        build(df, path, **geom_b)
    else:
        assert meta["max_id"] is None, meta
        assert {k: meta[k] for k in geom_b} == geom_b, meta
        refresh(df, path)
    want = build(df, clean, **geom_b)
    assert read_meta(path) == want
    for t in tables:
        got, ref = (
            sorted(map(repr, spark.read.parquet(os.path.join(p, t)).collect()))
            for p in (path, clean)
        )
        assert got == ref, t


# ---------------------------------------------------------------------------
# Form agreement on 24 pandas-backed vectors (fast tier): the standing-index,
# in-memory and join forms of each vector-search stage answer alike
# ---------------------------------------------------------------------------
def _local_vectors(spark, n, first_id, seed, id_col="vec_id"):
    import random

    import pandas as pd

    rnd = random.Random(seed)
    rows = [(first_id + i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[id_col, "embedding"]),
        f"{id_col} long, embedding array<double>",
    )


def _ranks(df, qcol="query_id"):
    return sorted((r[qcol], r["vec_id"], r["rank"]) for r in df.collect())


@pytest.mark.parametrize(
    "form", ["ivf_index", "pq_flat", "pq_cells", "l2sq", "cosine", "dot"]
)
def test_vector_search_forms_agree(spark, tmp_path, form):
    """``ivf_index_topk`` per query == ``ivf_index_knn_join`` at partial
    probe (driver probe order vs in-plan probe); ``pq_index_topk`` ==
    ``pq_topk_refined`` (no cells) and == ``ivf_pq_topk`` (cells);
    ``knn_join`` == ``hard_negatives(exclude_self=False)`` ranks for every
    metric, and == ``ivf_knn_join`` at full probe for l2sq and cosine."""
    from kaer_spark.operators import index_store as I
    from kaer_spark.operators import knn as K
    from kaer_spark.operators import similarity as S

    corpus = _local_vectors(spark, 21, 0, 5)
    queries = _local_vectors(spark, 3, 100, 6, "query_id")
    qrows = queries.collect()
    path = str(tmp_path / form)
    if form == "ivf_index":
        I.build_ivf_index(corpus, path, cells=4, fit="deterministic")
        per_query = sorted(
            (r["query_id"], row["vec_id"], rank)
            for r in qrows
            for rank, row in enumerate(
                I.ivf_index_topk(spark, path, r["embedding"], 3, nprobe=2).collect(), 1
            )
        )
        assert per_query == _ranks(
            I.ivf_index_knn_join(spark, path, queries, 3, nprobe=2)
        )
        return
    if form.startswith("pq"):
        cells = 4 if form == "pq_cells" else None
        I.build_pq_index(corpus, path, m=2, k=4, cells=cells)
        for r in qrows:
            served = I.pq_index_topk(
                spark, path, corpus, r["embedding"], topk=3, shortlist=6,
                nprobe=2 if cells else None,
            )
            if cells:
                fresh = S.ivf_pq_topk(
                    corpus, r["embedding"], topk=3, cells=4, nprobe=2,
                    shortlist=6, m=2, codebook_k=4,
                )
            else:
                fresh = S.pq_topk_refined(
                    corpus, r["embedding"], topk=3, shortlist=6, m=2, k=4
                )
            assert _rows(served) == _rows(fresh)
        return
    kw = dict(query_id_col="query_id", corpus_id_col="vec_id", metric=form)
    want = _ranks(K.knn_join(queries, corpus, 3, **kw))
    assert len(want) == 9
    negatives = K.hard_negatives(queries, corpus, 3, exclude_self=False, **kw)
    assert _ranks(negatives) == want
    if form != "dot":
        full_probe = S.ivf_knn_join(queries, corpus, 3, cells=4, nprobe=4, **kw)
        assert _ranks(full_probe) == want
